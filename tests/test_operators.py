"""Operator-level tests: aggregations, joins, linking, connected components."""

import datetime

from pyspark.sql import functions as F

from smh_to_jsonld_spark.functions.dims import alias_dim
from smh_to_jsonld_spark.operators import aggregates, canon, joins, link
from smh_to_jsonld_spark.sources import synth


def test_distinct_field_values(spark, spec):
    fv = aggregates.distinct_field_values(synth.facts_df(spark, spec))
    row = fv.filter(
        (F.col("round_id") == "2031-01-05") & (F.col("model_id") == "team0-modelA")
    ).first()
    assert row.target == ["inc hosp"]
    assert row.horizon == [1, 2]
    assert row.max_horizon == 2
    assert "US" in row.location and "06037" in row.location
    assert row.output_type == ["quantile"]


def test_field_values_long_equals_combos_path(spark, spec):
    """The r5 long-form explode formulation must reproduce the ordered
    combos path byte-for-byte: same columns, same per-field ORDER
    (first-appearance), same empty-array/NULL edge shapes, same
    max_horizon and last-appearance origin_date_max. Exercised both on
    the fixture corpus and on a synthetic at-scale slice (many convs per
    model, Zipf-skewed locations)."""
    for facts in (
        # any unique orderable column works as the order col; uniqueness
        # matters (ties would break differently between the two paths)
        synth.facts_df(spark, spec).withColumn(
            "turn_order", F.monotonically_increasing_id()
        ),
        None,
    ):
        if facts is None:
            from smh_to_jsonld_spark.operators import extract, link as linkops
            from smh_to_jsonld_spark.plans.pipeline import extract_and_link

            tr = synth.transcripts_at_scale(spark, 200, 24, partitions=8)
            facts = extract_and_link(spark, tr)["facts"]
        old = aggregates.distinct_field_values(facts, order_col="turn_order")
        new = aggregates.distinct_field_values_long(facts, order_col="turn_order")
        assert sorted(new.columns) == sorted(old.columns)
        cols = sorted(old.columns)
        a = sorted(tuple(str(x) for x in r) for r in new.select(*cols).collect())
        b = sorted(tuple(str(x) for x in r) for r in old.select(*cols).collect())
        assert a == b


def test_merge_field_values_global(spark, spec):
    fv = aggregates.distinct_field_values(synth.facts_df(spark, spec))
    g = aggregates.merge_field_values_global(fv).filter(F.col("round_id") == "2031-01-05")
    row = g.first()
    assert set(row.target) == {"inc hosp", "peak inc hosp", "cum hosp"}
    assert row.output_type == ["quantile", "sample"]


def test_file_type_histogram(spark, spec):
    hist = aggregates.file_type_histogram(synth.files_df(spark, spec))
    row = hist.filter(
        (F.col("round_id") == "2031-01-05") & (F.col("model_id") == "team2-modelC")
    ).first()
    # m=2: 1 plain parquet + 2 gz (see synth.corpus_spec)
    assert (row.n_parquet, row.n_gz_parquet) == (1, 2)


def test_top1_per_group(spark):
    df = spark.createDataFrame(
        [("r1", "v1", 1), ("r1", "v2", 2), ("r2", "v9", 9)], "k string, v string, o int"
    )
    got = {
        (r.k, r.v) for r in aggregates.top1_per_group(df, ["k"], "o", desc=True).collect()
    }
    assert got == {("r1", "v2"), ("r2", "v9")}


def test_location_lookup_miss_still_emits(spark):
    df = spark.createDataFrame([("06",), ("99",), ("06037",)], "location string")
    got = {r.location: r.location_name for r in joins.location_lookup(df, spark).collect()}
    assert got["06"] == "California"
    assert got["99"] == "Unknown state code: 99"
    assert got["06037"] == "County code 037, California"


def test_observed_target_semi_join_empty_bypass(spark):
    tm = spark.createDataFrame(
        [("r1", "t1"), ("r1", "t2")], "round_id string, target_id string"
    )
    observed = spark.createDataFrame(
        [("r1", "m1", "t1"), ("r1", "m2", "zzz")],
        "round_id string, model_id string, target_id string",
    )
    got = joins.observed_target_join(tm, observed)
    m1 = {r.target_id for r in got.filter(F.col("model_id") == "m1").collect()}
    assert m1 == {"t1"}
    # m2 observed only unknown targets => non-empty set, no metadata match
    m2 = {r.target_id for r in got.filter(F.col("model_id") == "m2").collect()}
    assert m2 == set()


def test_roster_check(spark):
    expected = spark.createDataFrame([("a",), ("b",)], "name string")
    actual = spark.createDataFrame([("b",), ("c",)], "name string")
    got = joins.roster_check(expected, actual, "name")
    assert got == {"missing": ["a"], "extra": ["c"]}


def test_link_exact_and_fuzzy(spark):
    facts = spark.createDataFrame(
        [
            ("California",),   # exact (name)
            ("CA",),           # exact (abbr)
            ("06",),           # exact (fips)
            ("CALIFORNIA.",),  # normalize + exact
            ("Californa",),    # typo -> fuzzy trigram match
            ("06037",),        # not in dict -> passthrough
        ],
        "location_surface string",
    )
    got = {r.location_surface: r.location for r in link.link_locations(facts, spark).collect()}
    assert got["California"] == "06"
    assert got["CA"] == "06"
    assert got["06"] == "06"
    assert got["CALIFORNIA."] == "06"
    assert got["Californa"] == "06"
    assert got["06037"] == "06037"


def test_link_minhash_blocking(spark):
    """MinHash-banded candidate generation (the north-star's other
    blocking family): agrees with prefix blocking on ordinary typos AND
    catches a FIRST-char typo the prefix block structurally misses."""
    facts = spark.createDataFrame(
        [("Californa",), ("kalifornia",), ("Texas",), ("zzzz",)],
        "location_surface string",
    )
    mh = {
        r.location_surface: r.location
        for r in link.link_locations(facts, spark, fuzzy_blocking="minhash").collect()
    }
    assert mh["Californa"] == "06"     # same answer as prefix blocking
    assert mh["Texas"] == "48"          # exact path unaffected
    assert mh["kalifornia"] == "06"    # first-char typo: minhash-only catch
    assert mh["zzzz"] == "zzzz"         # true miss passes through

    pf = {
        r.location_surface: r.location
        for r in link.link_locations(facts, spark, fuzzy_blocking="prefix").collect()
    }
    assert pf["kalifornia"] == "kalifornia"  # prefix block can't see it


def test_salted_collect_set_matches_plain(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).alias("v")
    )
    salted = {
        r.k: list(r.v_set) for r in link.salted_collect_set(df, ["k"], "v", 8).collect()
    }
    plain = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    assert salted == plain


def test_salted_count_matches_plain(spark):
    df = spark.range(0, 5000).select((F.col("id") % 3).alias("k"))
    salted = {r.k: r["count"] for r in link.salted_count(df, ["k"], 8).collect()}
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert salted == plain


def test_connected_components_and_iri_stability(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"), ("p3", "p4")],
        "src string, dst string",
    )
    cc = canon.connected_components(edges)
    comp = {r.vertex: r.component for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["p4"] == "p"
    # entity IRI stability is pinned in test_entity_graph


def test_connected_components_chain_converges_logarithmically(spark):
    """The large-star/small-star rewrite must handle the worst shape for
    label propagation — a path graph — in O(log n) rounds, not O(diameter).
    Chain of 121 vertices (diameter 120): correct single component labeled
    by the min vertex, in <= 12 alternation rounds."""
    n = 121
    ids = [f"v{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "src string, dst string"
    )
    stats = {}
    cc = canon.connected_components(edges, stats=stats)
    comp = {r.vertex: r.component for r in cc.collect()}
    assert len(comp) == n
    assert set(comp.values()) == {"v000"}
    assert stats["iterations"] <= 12, stats


def test_connected_components_mixed_shapes(spark):
    """Stars, a cycle, and an isolated edge in one pass — labels are the
    per-component minimum regardless of shape."""
    edges = spark.createDataFrame(
        [("c", "a"), ("c", "b"), ("c", "d"),          # star rooted off-min
         ("m", "n"), ("n", "o"), ("o", "m"),          # cycle
         ("z1", "z2")],                                # pair
        "src string, dst string",
    )
    comp = {r.vertex: r.component for r in canon.connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["m"] == comp["n"] == comp["o"] == "m"
    assert comp["z1"] == comp["z2"] == "z1"


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized cross-check: star/small-star labels == a pure-Python
    union-find on the same edges (seeded graphs incl. dense and sparse)."""
    import random

    for seed, n, m in [(1, 30, 15), (2, 40, 60), (3, 25, 24)]:
        rng = random.Random(seed)
        edges = [
            (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
            for _ in range(m)
        ]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        expected_groups = {}
        for a, b in edges:
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        for a, b in edges:
            if a != b:
                for v in (a, b):
                    expected_groups[v] = find(v)
        # canonical label = min member per component
        roots = {}
        for v, r in expected_groups.items():
            roots.setdefault(r, set()).add(v)
        expected = {v: min(g) for r, g in roots.items() for v in g}

        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.vertex: r.component
            for r in canon.connected_components(df).collect()
        }
        assert got == expected, f"seed={seed}"


def test_alias_dim_covers_all_forms(spark):
    dim = alias_dim(spark)
    aliases = {r.alias for r in dim.collect()}
    assert {"california", "ca", "06", "united states", "us"} <= aliases


def test_alias_dim_canonicals_link_to_themselves(spark):
    """The star property entity grouping relies on: a canonical that can
    occur as a normalized surface links to itself, so no canonical is
    ever a leaf of another canonical's star."""
    rows = alias_dim(spark).select(
        "alias", "canonical",
        link.normalize_surface(F.col("canonical")).alias("norm"),
    ).collect()
    mapping = {r.alias: r.canonical for r in rows}
    selfnorm = {r.canonical for r in rows if r.norm == r.canonical}
    assert "06" in selfnorm
    for c in selfnorm:
        assert mapping.get(c) == c, c


def test_merge_field_values_ordered_mode(spark):
    from smh_to_jsonld_spark.operators import aggregates

    per_model = spark.createDataFrame(
        [
            ("r1", 2, ["z", "a"]),
            ("r1", 1, ["b", "a"]),
        ],
        "round_id string, model_pos int, target array<string>",
    )
    # default: sorted union
    got = aggregates.merge_field_values_global(per_model).collect()[0]
    assert got.target == ["a", "b", "z"]
    # ordered: model_pos order then first-appearance within
    got_o = aggregates.merge_field_values_global(
        per_model, model_order_col="model_pos"
    ).collect()[0]
    assert got_o.target == ["b", "a", "z"]
