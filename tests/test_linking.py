"""link() against a pure-Python statement of the linking rules (J1–J7).

The reference below restates, row by row, what link() must make of each
raw row — including the SQL three-valued-logic corners (a claim whose
`needs_gnd_check` is NULL, a rescue-flagged prop_text without a
fallback_property) — and the test compares the two as multisets for
both `label_retry` settings.
"""

from collections import Counter

import pytest

from auth2wd_spark import schemas
from auth2wd_spark.operators.linking import link
from auth2wd_spark.properties import KEY2PROP, RESCUE_CLASSES

COLS = schemas.RAW.fieldNames()

ID_TO_QID = [
    # (property, id, qid, label_en, p31)
    (214, "v1", "Q1", "Alice", "Q5"),  # J1 single hit
    (214, "multi", "Q2", "Bob", "Q5"),  # J1 multi hit; J2 resolves "Bob"
    (214, "multi", "Q3", "Carol", "Q5"),
    (3151, "t1", "Q10", "Genus", "Q16521"),  # J6 single taxon hit
    (3151, "t2", "Q11", "Not a taxon", "Q5"),  # J6 miss: wrong class
    (3151, "t3", "Q12", "Twin", "Q16521"),  # J6 miss: multi hit
    (3151, "t3", "Q13", "Twin", "Q16521"),
    (214, "x1", "Q20", "German", "Q34770"),  # J3 P1412
    (214, "x2", "Q21", "Berlin", "Q515"),  # J3 P131: two hits, no rescue
    (214, "x3", "Q22", "Berlin", "Q1549591"),
    (214, "x4", "Q23", "France", "Q6256"),  # J3 P27
    (214, "x5", "Q24", "Paris", "Q515"),  # J3 P131
    (214, "x6", "Q25", None, "Q6256"),  # no label: never rescues
]
VIAF_LOOKUP = [
    # (source_key, id, viaf_id)
    ("DNB", "g1", "V1"),
    ("DNB", "g1", "V0"),  # min wins
    ("NOT_A_KEY", "g2", "V2"),  # no property for this key
]
VALID_GND = [
    ("bad1", False),
    ("bad1", False),  # duplicate invalid id
    ("good1", True),
]


def _row(subj, kind, **kw):
    row = dict.fromkeys(COLS)
    row.update(subj=subj, kind=kind, src_property=227, src_id=subj, src_url=f"test://{subj}")
    row.update(kw)
    return row


def _cand(subj, cand_kind, prop, cid, **kw):
    kw.setdefault("pred", f"P{prop}")
    kw.setdefault("has_ref", True)
    return _row(subj, "candidate", cand_kind=cand_kind, cand_property=prop, cand_id=cid, **kw)


def _claim(subj, value, check):
    return _row(
        subj, "claim", pred="P227", obj_type="extid", obj_value=value, rank="normal",
        qualifiers="", has_ref=True, needs_gnd_check=check,
    )


def _prop_text(subj, prop, text, rescue, has_ref=None):
    return _row(subj, "prop_text", fallback_property=prop, fallback_text=text, rescue=rescue, has_ref=has_ref)


RAW = [
    # J7
    _claim("c-invalid", "bad1", True),  # dropped: invalid, listed twice
    _claim("c-valid", "good1", True),
    _claim("c-unknown", "other", True),  # absent from the table: kept
    _claim("c-unchecked", "bad1", False),  # not checked: kept
    _claim("c-null-check", "good1", None),  # NULL flag: dropped
    # J1 / J2 / J1-miss → J3
    _cand("e-hit", "extid", 214, "v1", fallback_property=1412, fallback_text="German"),
    _cand("e-multi", "extid", 214, "multi", fallback_property=214, fallback_text="Bob"),
    _cand("e-multi-garbage", "extid", 214, "multi", fallback_property=214, fallback_text="zzz"),
    _cand("e-miss-no-text", "extid", 214, "nope", fallback_property=1412),
    _cand("e-miss-parked", "extid", 214, "nope", fallback_property=1412, fallback_text="Klingon"),
    _cand("e-miss-outside", "extid", 214, "nope", fallback_property=214, fallback_text="German"),
    _cand("e-miss-no-prop", "extid", 214, "nope", fallback_text="German"),
    _cand("e-rescued", "extid", 214, "nope", fallback_property=27, fallback_text="France", has_ref=False),
    _cand("e-two-hits", "extid", 214, "nope", fallback_property=131, fallback_text="Berlin"),
    # J6
    _cand("t-hit", "parent_taxon", 3151, "t1", pred="P171"),
    _cand("t-wrong-class", "parent_taxon", 3151, "t2", pred="P171"),
    _cand("t-multi", "parent_taxon", 3151, "t3", pred="P171"),
    # J5
    _cand("v-hit", "viaf", 227, "g1", pred="P214"),
    _cand("v-miss", "viaf", 227, "g9", pred="P214"),
    _cand("v-unknown-key", "viaf", 9999, "g2", pred="P214"),
    # unknown candidate kind and unknown row kind
    _cand("u-cand", "mystery", 214, "v1"),
    _row("u-kind", "junk", obj_value="x"),
    # J3 over raw prop_text
    _prop_text("p-true-hit", 131, "Paris", True),  # has_ref NULL → TRUE
    _prop_text("p-true-hit-noref", 1412, "German", True, has_ref=False),  # keeps FALSE
    _prop_text("p-true-miss", 1412, "Klingon", True),
    _prop_text("p-true-outside", 214, "German", True),
    _prop_text("p-true-no-prop", None, "German", True),  # dropped
    _prop_text("p-false", 1412, "German", False),
    _prop_text("p-null", 1412, "German", None),
    _prop_text("p-null-no-prop", None, "German", None),
    _prop_text("p-no-label-match", 27, None, True),
    # terms
    _row("term-label", "label", obj_value="Alice", obj_lang="en"),
    _row("term-alias", "alias", obj_value="Ally", obj_lang="en"),
    _row("term-desc", "description", obj_value="a person", obj_lang="en"),
]


def _single_hit(rows):
    hits = {}
    for key, qid in rows:
        hits.setdefault(key, set()).add(qid)
    return {k: min(q) for k, q in hits.items() if len(q) == 1}


def reference_link(raw, label_retry):
    """Today's linking rules, one raw row at a time."""
    j1 = _single_hit(((p, i), q) for p, i, q, _l, _c in ID_TO_QID)
    j2 = _single_hit(((p, i, lbl), q) for p, i, q, lbl, _c in ID_TO_QID if lbl is not None)
    j6 = _single_hit(((p, i), q) for p, i, q, _l, c in ID_TO_QID if c == "Q16521")
    j3 = _single_hit(
        ((prop, lbl), q)
        for _p, _i, q, lbl, c in ID_TO_QID
        for prop, classes in RESCUE_CLASSES.items()
        if c in classes and lbl is not None
    )
    j5 = {}
    for key, i, v in VIAF_LOOKUP:
        if key in KEY2PROP:
            j5[(KEY2PROP[key], i)] = min(v, j5.get((KEY2PROP[key], i), v))
    invalid = {g for g, valid in VALID_GND if valid is False}

    def claim(r, pred, obj_type, value, has_ref):
        return _row(
            r["subj"], "claim", pred=pred, obj_type=obj_type, obj_value=value, rank="normal",
            qualifiers="", has_ref=has_ref, needs_gnd_check=False, src_property=r["src_property"],
            src_id=r["src_id"], src_url=r["src_url"], ord=r["ord"],
        )

    out, prop_text = [], []
    for r in raw:
        kind, ck = r["kind"], r["cand_kind"]
        key = (r["cand_property"], r["cand_id"])
        if kind == "claim":
            if r["needs_gnd_check"] is None or (r["needs_gnd_check"] and r["obj_value"] in invalid):
                continue
            out.append(r)
        elif kind in ("label", "alias", "description"):
            out.append(r)
        elif kind == "prop_text":
            prop_text.append(r)
        elif kind == "candidate" and ck == "extid":
            qid = j1.get(key)
            if qid is None and label_retry and r["fallback_text"] is not None:
                qid = j2.get((*key, r["fallback_text"]))
            if qid is not None:
                out.append(claim(r, r["pred"], "item", qid, r["has_ref"]))
            elif r["fallback_text"] is not None:
                parked = _row(
                    r["subj"], "prop_text", fallback_property=r["fallback_property"],
                    fallback_text=r["fallback_text"], rescue=True,
                )
                parked.update({c: r[c] for c in ("src_property", "src_id", "src_url", "ord")})
                prop_text.append(parked)
        elif kind == "candidate" and ck == "parent_taxon" and key in j6:
            out.append(claim(r, r["pred"], "item", j6[key], r["has_ref"]))
        elif kind == "candidate" and ck == "viaf" and key in j5:
            out.append(claim(r, r["pred"], "extid", j5[key], r["has_ref"]))
    for r in prop_text:
        # coalesce(rescue, FALSE) AND fallback_property IN (…), in SQL logic
        if not r["rescue"]:
            rescuable = False
        elif r["fallback_property"] is None:
            continue  # NULL: neither the rescuable nor the kept filter passes it
        else:
            rescuable = r["fallback_property"] in RESCUE_CLASSES
        qid = j3.get((r["fallback_property"], r["fallback_text"])) if rescuable else None
        if qid is None:
            out.append(r)
        else:
            has_ref = True if r["has_ref"] is None else r["has_ref"]
            out.append(claim(r, f"P{r['fallback_property']}", "item", qid, has_ref))
    return out


@pytest.mark.parametrize("label_retry", [False, True])
def test_link_matches_python_reference(spark, label_retry):
    raw = [dict(r, ord=n) for n, r in enumerate(RAW)]
    raw_df = spark.createDataFrame([tuple(r[c] for c in COLS) for r in raw], schema=schemas.RAW)
    id_to_qid = spark.createDataFrame(ID_TO_QID, schema=schemas.ID_TO_QID)
    viaf_lookup = spark.createDataFrame(VIAF_LOOKUP, schema=schemas.VIAF_LOOKUP)
    valid_gnd = spark.createDataFrame(VALID_GND, schema=schemas.VALID_GND_IDS)

    got = link(raw_df, id_to_qid, viaf_lookup, valid_gnd, label_retry=label_retry)
    assert got.columns == COLS
    want = reference_link(raw, label_retry)
    assert Counter(tuple(r) for r in got.collect()) == Counter(tuple(r[c] for c in COLS) for r in want)

    # the corners the reference walks through, spelled out
    by_subj = {r["subj"]: r for r in want}
    assert {"c-invalid", "c-null-check", "e-miss-no-text", "e-miss-no-prop", "u-cand", "u-kind",
            "p-true-no-prop", "t-wrong-class", "t-multi", "v-miss", "v-unknown-key"}.isdisjoint(by_subj)
    assert by_subj["e-rescued"]["kind"] == "claim" and by_subj["e-rescued"]["has_ref"] is True
    assert by_subj["e-miss-outside"]["kind"] == "prop_text"
    assert by_subj["e-two-hits"]["kind"] == "prop_text"
    assert by_subj["p-true-hit"]["has_ref"] is True
    assert by_subj["p-true-hit-noref"]["has_ref"] is False
    assert by_subj["v-hit"]["obj_value"] == "V0"
    assert by_subj["e-multi"]["kind"] == ("claim" if label_retry else "prop_text")
    assert by_subj["e-multi-garbage"]["kind"] == "prop_text"
