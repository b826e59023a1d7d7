"""Connected-components: both physical strategies, identical semantics."""

from pyspark.sql import functions as F

from auth2wd_spark.operators import cc


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src STRING, dst STRING")


def _collect(labels):
    return {r["node"]: r["component"] for r in labels.collect()}


def test_chain_and_star(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"),          # chain → comp a
        ("x", "y"), ("x", "z"), ("x", "w"),          # star → comp w (min)
        ("s", "s"),                                   # self loop → singleton-ish
    ]
    labels = cc.connected_components(_edges(spark, pairs))
    got = _collect(labels)
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["x"] == got["y"] == got["z"] == got["w"] == "w"
    assert "s" not in got  # pure self-loop carries no connectivity


def test_star_path_matches_local(spark):
    import random

    rng = random.Random(7)
    pairs = [(f"n{rng.randrange(120)}", f"n{rng.randrange(120)}") for _ in range(200)]
    edges = _edges(spark, pairs)
    local = _collect(cc.connected_components(edges))
    old = cc.LOCAL_CC_THRESHOLD
    try:
        cc.LOCAL_CC_THRESHOLD = 1  # force the large/small-star path
        dist = _collect(cc.connected_components(edges))
    finally:
        cc.LOCAL_CC_THRESHOLD = old
    assert local == dist


def test_hot_node(spark):
    """A celebrity hub node: 500 spokes → one component, min id wins."""
    pairs = [("hub", f"spoke{i:04d}") for i in range(500)]
    labels = cc.connected_components(_edges(spark, pairs))
    got = _collect(labels)
    assert len(set(got.values())) == 1
    assert set(got.values()) == {"hub"}  # "hub" < "spoke..."


def test_driver_path_matches_star_path(spark, monkeypatch):
    """The Arrow-native driver union-find (toArrow + dictionary_encode +
    rank-min) must label identically to the independent large/small-star
    path — including the lexicographic-min component contract on
    multi-component graphs with shared prefixes, mixed key lengths and
    isolated two-node chains."""
    pairs = (
        [(f"rec{i}", f"P214:{i % 7}") for i in range(50)]
        + [("P214:0", "P227:x"), ("zz-last", "P227:x"), ("a", "rec3")]
        + [(f"iso{i}", f"iso{i + 1}") for i in range(0, 10, 2)]
    )
    edges = _edges(spark, pairs)
    arrow = _collect(cc._driver_union_find(spark, edges))
    monkeypatch.setattr(cc, "LOCAL_CC_THRESHOLD", 1)  # force the large/small-star path
    star = _collect(cc.connected_components(edges))
    assert arrow == star
    assert arrow["zz-last"] == min(arrow)  # component of the big cluster is min member
