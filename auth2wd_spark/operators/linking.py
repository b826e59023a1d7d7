"""Entity-linking joins (SURVEY.md §2.3 J1–J7).

Every lookup the reference performs over live HTTP becomes a broadcast
equi-join against a deterministic dimension table:

  J1  (property, id) → QID, accepted ONLY on a single hit — the reference's
      totalhits==1 precision guard (/root/reference/src/external_id.rs:90-125)
      becomes groupBy(property,id) + count==1 before the join.
  J2  label-constrained retry for J1 misses carrying a name: single hit
      within (property, id, label). EXTENSION, gated default-OFF: the
      reference resolves extid candidates ONLY via the totalhits==1 guard —
      its label-constrained search (external_id.rs:127-130) is called in
      production solely from the typed-rescue path
      (external_importer.rs:744) — so `link(label_retry=True)` is a
      deliberate deviation (ARCHITECTURE.md §3), not reference parity.
  J3  typed rescue of parked prop_text (P1412/P131/P27) against per-class
      name→QID rows (external_importer.rs:727-758).
  J5  VIAF inference: (source_key, id) → viaf_id (viaf.rs:191-227).
  J6  parent-taxon: (taxon property, parent id) restricted to P31=Q16521
      (inaturalist.rs:82-91 etc.).
  J7  GND validity: drop P227 sameAs claims marked invalid
      (external_id.rs:139-158); ids absent from the table pass (the
      reference only knows invalidity by fetching the page).

`link()` is ONE pass over raw: a chain of joins (J7 left-anti, then the
J1, J6, J5, J2, J3 left joins), each keyed by an expression that is NULL
unless the row is of the kind that lookup serves — a NULL key never
matches, so every other row streams through the join untouched. One
projection then turns each row into its linked shape (kept as-is,
resolved claim, parked prop_text) and one filter drops the rows today's
rules drop. Raw is scanned once; nothing is split by kind and unioned
back.

Dimension tables are broadcast when under the autoBroadcastJoinThreshold;
at 100 TB the id→QID index outgrows broadcast — pre-bucket both sides on
(property, id) and let AQE pick the strategy (see plans/pipeline.py).

The reference caches lookup hits AND misses in-process
(external_id.rs:14-23); the join subsumes both caches (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from ..properties import KEY2PROP, RESCUE_CLASSES

# Row-count gate for forcing an explicit broadcast on the id→QID-derived
# link indexes (round 5). AQE still broadcasts small dims on its own, but
# its estimate-driven choice flipped to sort-merge in one environment and
# shuffled the 21-column raw table through six branches (BENCH_r04: link
# 70.5 s driver vs 12.9 s local on identical code/corpus). A cheap count
# on the base dimension table makes the choice deterministic: at or under
# the gate the index is provably broadcast-sized (each index is a groupBy
# REDUCTION of id_to_qid, so count(id_to_qid) bounds every index), above
# it the joins fall back to AQE, which is the right call once the index
# outgrows executor memory (the pre-bucketed join path covers 100 TB).
# 4M rows ≈ 250 MB broadcast worst-case — comfortable on any executor
# profile that can run this pipeline at all.
LINK_BROADCAST_MAX_ROWS = int(os.environ.get("AUTH2WD_LINK_BC_MAX_ROWS", "4000000"))

_TERM_KINDS = ("label", "alias", "description")
# what link() makes of a raw row; a row with no role is dropped
_KEEP, _ITEM, _RESCUED, _VIAF, _PARKED = "keep", "item", "rescued", "viaf", "parked"
# columns every role passes through unchanged
_PASS = ("subj", "src_property", "src_id", "src_url", "ord")


def single_hit_index(id_to_qid: DataFrame) -> DataFrame:
    """(property, id) pairs mapping to exactly one QID (J1 precision guard)."""
    return (
        id_to_qid.groupBy("property", "id")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def label_extid_index(id_to_qid: DataFrame) -> DataFrame:
    """J2: (property, id, label) → QID, single-hit within the label slice.

    Built on the reference's label-constrained search primitive
    (`get_item_for_string_external_id_value`, external_id.rs:127-130), but
    applying it to extid candidates is an EXTENSION — the reference's only
    production caller of that search is the typed-rescue path
    (external_importer.rs:744); extid candidates are resolved solely via
    the totalhits==1 guard. Used only under `link(label_retry=True)`:
    a (property, id) pair that is MULTI-hit on the id alone — rejected by
    the J1 guard — is accepted when exactly one of the hits carries the
    record's name as its label.
    """
    return (
        id_to_qid.filter(F.col("label_en").isNotNull())
        .groupBy("property", "id", "label_en")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def taxon_index(id_to_qid: DataFrame) -> DataFrame:
    """Single-hit index restricted to taxa (haswbstatement:P31=Q16521)."""
    return (
        id_to_qid.filter(F.col("p31") == "Q16521")
        .groupBy("property", "id")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter(F.col("n_hits") == 1)
        .drop("n_hits")
    )


def rescue_index(id_to_qid: DataFrame) -> DataFrame:
    """(rescue property, name) → QID over the allowed P31 classes (J3).

    Single-hit within each rescue property's class set. The class map is
    a JVM literal (P31 class → rescue properties), so building the index
    starts no Python job.
    """
    by_class: dict[str, list[int]] = {}
    for prop, classes in RESCUE_CLASSES.items():
        for cls in classes:
            by_class.setdefault(cls, []).append(prop)
    class_props = F.create_map(
        *[v for cls, props in by_class.items() for v in (F.lit(cls), F.array(*map(F.lit, props)))]
    )
    return (
        id_to_qid.select(
            F.explode(class_props[F.col("p31")]).alias("rescue_property"), "label_en", "qid"
        )
        .groupBy("rescue_property", "label_en")
        .agg(F.countDistinct("qid").alias("n_hits"), F.min("qid").alias("qid"))
        .filter((F.col("n_hits") == 1) & F.col("label_en").isNotNull())
        .drop("n_hits")
    )


def viaf_key_map() -> Column:
    """VIAF source key → property (KEY2PROP, viaf.rs:168-173) as a map literal."""
    return F.create_map(*[F.lit(v) for kv in KEY2PROP.items() for v in kv])


def _keyed(index: DataFrame, prefix: str) -> DataFrame:
    """`index` with every column prefixed, so chained joins never collide."""
    return index.select(*[F.col(c).alias(f"{prefix}_{c}") for c in index.columns])


def link(
    raw: DataFrame,
    id_to_qid: DataFrame,
    viaf_lookup: DataFrame,
    valid_gnd_ids: DataFrame,
    hint_broadcast: bool = False,
    label_retry: bool = False,
    broadcast_max_rows: int | None = None,
) -> DataFrame:
    """Resolve all candidate rows; returns the TRIPLES DataFrame
    (kinds: claim, prop_text, label, alias, description).

    Join-strategy choice (round 5): the id→QID-derived indexes are
    explicitly broadcast when a cheap `id_to_qid.count()` is at or under
    `broadcast_max_rows`. `None` (the default) means the module default
    LINK_BROADCAST_MAX_ROWS (env AUTH2WD_LINK_BC_MAX_ROWS, an integer);
    pass the literal `0` to disable the gate and restore pure AQE-choice
    — `None` does NOT disable it. Leaving the choice to AQE was measured-fine
    locally but flipped to six sort-merge shuffles of the full-width raw
    table in the round-4 driver environment (link 70.5 s vs 12.9 s on
    identical code) — the gate makes the broadcast decision a function of
    the data, not the environment. `hint_broadcast=True` forces broadcast
    unconditionally. Above the gate the exchanges go to AQE, which is
    correct once an index outgrows broadcast (pre-bucketed joins are the
    100 TB path, see module docstring).

    `label_retry` (default False = reference behavior) enables the J2
    label-disambiguation of multi-hit extids — a deviation from the
    reference, which parks every J1 miss as prop_text (see
    label_extid_index docstring).

    Rules, per raw row:
      claim        kept, unless `needs_gnd_check` is NULL or it is TRUE
                   and the GND id is known-invalid (J7)
      extid        J1 (then J2) hit → item claim; a miss with a name is
                   parked as prop_text (rescue=TRUE) and goes to J3; a
                   miss without a name is dropped
      parent_taxon J6 hit → item claim; miss dropped
      viaf         J5 hit → P214-style extid claim; miss dropped
      prop_text    J3 hit (rescue=TRUE, rescue-class property) → item
                   claim with `has_ref` defaulting to TRUE; otherwise
                   kept — except rescue=TRUE with no fallback_property,
                   which is dropped
      terms        kept
    Any other kind or candidate kind is dropped."""
    if broadcast_max_rows is None:
        broadcast_max_rows = LINK_BROADCAST_MAX_ROWS

    def _gated_hint(base: DataFrame):
        # every index is a groupBy reduction of its base dimension table,
        # so count(base) bounds the index size — one cheap narrow count
        # (metadata-only on parquet) buys a deterministic broadcast choice
        if hint_broadcast or (broadcast_max_rows > 0 and base.count() <= broadcast_max_rows):
            return F.broadcast
        return lambda df: df

    hint = _gated_hint(id_to_qid)
    viaf_idx = (
        viaf_lookup.select(
            viaf_key_map()[F.col("source_key")].alias("cand_property"), "id", "viaf_id"
        )
        .filter(F.col("cand_property").isNotNull())
        .groupBy("cand_property", "id")
        .agg(F.min("viaf_id").alias("viaf_id"))
    )
    j1 = hint(_keyed(single_hit_index(id_to_qid), "j1"))
    j6 = hint(_keyed(taxon_index(id_to_qid), "j6"))
    j5 = _gated_hint(viaf_lookup)(_keyed(viaf_idx, "j5"))
    j3 = hint(_keyed(rescue_index(id_to_qid), "j3"))
    gnd_invalid = F.broadcast(
        valid_gnd_ids.filter(~F.col("valid")).select(F.col("gnd_id").alias("j7_gnd_id"))
    )

    kind, cand_kind = F.col("kind"), F.col("cand_kind")
    fb_prop, fb_text = F.col("fallback_property"), F.col("fallback_text")
    is_extid = (kind == "candidate") & (cand_kind == "extid")

    def key(cond: Column, column: str) -> Column:
        return F.when(cond, F.col(column))

    def for_cand(which: str, column: str) -> Column:
        return key((kind == "candidate") & (cand_kind == which), column)

    # J7 — drop P227 sameAs claims whose GND id is known-invalid
    gnd_check = (kind == "claim") & F.col("needs_gnd_check")
    df = raw.join(gnd_invalid, key(gnd_check, "obj_value") == F.col("j7_gnd_id"), "left_anti")
    # J1 — extid candidates
    df = df.join(
        j1,
        (for_cand("extid", "cand_property") == F.col("j1_property"))
        & (for_cand("extid", "cand_id") == F.col("j1_id")),
        "left",
    )
    # J6 — parent taxon; J5 — VIAF inference
    df = df.join(
        j6,
        (for_cand("parent_taxon", "cand_property") == F.col("j6_property"))
        & (for_cand("parent_taxon", "cand_id") == F.col("j6_id")),
        "left",
    )
    df = df.join(
        j5,
        (for_cand("viaf", "cand_property") == F.col("j5_cand_property"))
        & (for_cand("viaf", "cand_id") == F.col("j5_id")),
        "left",
    )
    extid_hit = F.col("j1_qid")
    # J2 (extension, gated) — label-constrained retry for J1 misses that
    # carry a name; with label_retry=False (reference behavior) every J1
    # miss parks directly as prop_text
    if label_retry:
        j2 = hint(_keyed(label_extid_index(id_to_qid), "j2"))
        j1_miss = is_extid & F.col("j1_qid").isNull()
        df = df.join(
            j2,
            (key(j1_miss, "cand_property") == F.col("j2_property"))
            & (key(j1_miss, "cand_id") == F.col("j2_id"))
            & (key(j1_miss, "fallback_text") == F.col("j2_label_en")),
            "left",
        )
        extid_hit = F.coalesce(extid_hit, F.col("j2_qid"))
    # J3 — typed rescue over ALL prop_text: the raw rows flagged rescue and
    # the extid misses about to be parked (which always carry rescue=TRUE)
    rescue_pt = (kind == "prop_text") & F.coalesce(F.col("rescue"), F.lit(False))
    rescue_cond = rescue_pt | (is_extid & extid_hit.isNull())
    df = df.join(
        j3,
        (key(rescue_cond, "fallback_property") == F.col("j3_rescue_property"))
        & (key(rescue_cond, "fallback_text") == F.col("j3_label_en")),
        "left",
    )

    rescued = F.col("j3_qid").isNotNull()
    role = (
        F.when(kind == "claim", F.when(F.col("needs_gnd_check").isNotNull(), _KEEP))
        .when(kind.isin(*_TERM_KINDS), _KEEP)
        .when(
            kind == "prop_text",
            # rescue=TRUE without a fallback_property is dropped: the SQL
            # test `coalesce(rescue, FALSE) AND fallback_property IN (…)`
            # is NULL for it, so it is neither rescuable nor not
            F.when(rescued, _RESCUED).when(~rescue_pt | fb_prop.isNotNull(), _KEEP),
        )
        .when(
            is_extid,
            F.when(extid_hit.isNotNull(), _ITEM)
            .when(rescued, _RESCUED)
            .when(fb_text.isNotNull() & fb_prop.isNotNull(), _PARKED),
        )
        .when((cand_kind == "parent_taxon") & F.col("j6_qid").isNotNull(), _ITEM)
        .when((cand_kind == "viaf") & F.col("j5_viaf_id").isNotNull(), _VIAF)
    )
    r = F.col("_role")
    claim = {
        "kind": F.lit("claim"),
        "pred": F.when(r == _RESCUED, F.concat(F.lit("P"), fb_prop.cast("string"))).otherwise(
            F.col("pred")
        ),
        "obj_type": F.when(r == _VIAF, "extid").otherwise("item"),
        "obj_value": F.when(r == _VIAF, F.col("j5_viaf_id")).otherwise(
            F.coalesce(extid_hit, F.col("j6_qid"), F.col("j3_qid"))
        ),
        "rank": F.lit("normal"),
        "qualifiers": F.lit(""),
        # a parked extid carries no has_ref, so its rescue defaults to TRUE
        "has_ref": F.when(
            r == _RESCUED, F.coalesce(F.when(kind == "prop_text", F.col("has_ref")), F.lit(True))
        ).otherwise(F.col("has_ref")),
        "needs_gnd_check": F.lit(False),
    }
    parked = {
        "kind": F.lit("prop_text"),
        "fallback_property": fb_prop,
        "fallback_text": fb_text,
        "rescue": F.lit(True),
    }
    out = [
        F.col(f.name)
        if f.name in _PASS
        else F.when(r == _KEEP, F.col(f.name))
        .when(r == _PARKED, parked.get(f.name))
        .otherwise(claim.get(f.name))
        .cast(f.dataType)
        .alias(f.name)
        for f in raw.schema
    ]
    return df.withColumn("_role", role).filter(r.isNotNull()).select(*out)
