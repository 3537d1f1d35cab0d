"""Count-min sketch properties: overestimate bound, exact mergeability,
heavy-hitter completeness (no false negatives)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from unimib_simpss_spark.catalog import load_table
from unimib_simpss_spark.functions import sketches as SK


@pytest.fixture(scope="module")
def tokens(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .cache()
    )


def test_estimates_overestimate_within_bound(tokens):
    depth, width = 4, 512
    sketch = SK.cms_build(tokens, "token", depth, width)
    cells = sketch.collect()
    assert len(cells) <= depth * width
    exact = {r.token: r.cnt for r in tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(exact.values())
    est = {
        r.token: r.est
        for r in SK.cms_estimate(
            sketch, tokens.distinct(), "token", depth, width
        ).collect()
    }
    assert set(est) == set(exact)
    eps_n = math.e / width * n
    for t, e in est.items():
        assert e >= exact[t], t                       # never under
        assert e <= exact[t] + eps_n, (t, e, exact[t], eps_n)


def test_merge_equals_whole(tokens):
    half1 = tokens.where(F.xxhash64("token", F.lit(99)) % 2 == 0)
    half2 = tokens.where(F.xxhash64("token", F.lit(99)) % 2 != 0)
    whole = {(r.j, r.c): r.cnt for r in SK.cms_build(tokens, "token").collect()}
    merged = {
        (r.j, r.c): r.cnt
        for r in SK.cms_merge(
            SK.cms_build(half1, "token"), SK.cms_build(half2, "token")
        ).collect()
    }
    assert merged == whole


def test_heavy_hitters_no_false_negatives(tokens):
    exact_top = [
        r.token
        for r in tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(5)
        .collect()
    ]
    hh = SK.cms_heavy_hitters(tokens, "token", k=20)
    got = [r.token for r in hh.collect()]
    assert len(got) <= 20
    assert set(exact_top) <= set(got)
    ranks = [r.rank for r in hh.collect()]
    assert ranks == sorted(ranks)


# ------------------------------------------------------------------ hll


def test_hll_accuracy_and_partitioning_invariance(spark, sf_dir):
    """The portable HLL estimate lands within ~3 standard errors of the
    exact distinct count, and — because the harmonic sum is an integer
    sum of exact powers of two — is BIT-identical under any
    repartitioning (no float-sum-order nondeterminism)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct(e, ["event_type"], "user_id").collect()
    }
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    se = 3 * 1.04 / (1 << SK.HLL_P) ** 0.5
    for k, n in exact.items():
        assert abs(est[k] - n) / n <= se, (k, est[k], n)
    again = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct(e.repartition(13), ["event_type"], "user_id").collect()
    }
    assert est == again


def test_hll_registers_merge_by_max(spark, sf_dir):
    """Register relations are the mergeable state: union two shards'
    registers and re-max — the estimate equals the whole-corpus run
    (the shard/day rollup pattern at 100 TB)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = SK.hll_registers(e.where(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = SK.hll_registers(e.where(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    merged_regs = a.unionAll(b).groupBy("event_type", "b").agg(F.max("M").alias("M"))
    whole_regs = SK.hll_registers(e, ["event_type"], "user_id")
    m = {(r.event_type, r.b): r.M for r in merged_regs.collect()}
    w = {(r.event_type, r.b): r.M for r in whole_regs.collect()}
    assert m == w


# --------------------------------------------------- portable CMS + bloom


def test_portable_cms_matches_stream_sketch_and_bounds(tokens):
    """The grid built FROM the aggregated count relation equals the
    conceptual stream sketch cell-for-cell (counter addition is
    associative), and its estimates obey the CMS bound."""
    depth, width = 4, 512
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cells = SK.cms_cells_from_counts(counts, "token", "cnt", depth, width)
    # stream form: one row per token occurrence, cnt=1
    stream = SK.cms_cells_from_counts(
        tokens.select("token", F.lit(1).alias("cnt")), "token", "cnt", depth, width
    )
    a = {(r.j, r.c): r.cell_cnt for r in cells.collect()}
    b = {(r.j, r.c): r.cell_cnt for r in stream.collect()}
    assert a == b
    exact = {r.token: r.cnt for r in counts.collect()}
    n = sum(exact.values())
    est = {
        r.token: r.cms_est
        for r in SK.cms_estimate_portable(
            cells, counts.select("token"), "token", depth, width
        ).collect()
    }
    eps_n = math.e / width * n
    for t, e in est.items():
        assert exact[t] <= e <= exact[t] + eps_n, (t, e, exact[t])


def test_portable_cms_partitioning_invariance(tokens):
    """Integer cell counts + min: the estimates are bit-identical under
    repartitioning (the determinism the value-level oracle relies on)."""
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    one = {
        r.token: r.cms_est
        for r in SK.cms_estimate_portable(
            SK.cms_cells_from_counts(counts), counts.select("token")
        ).collect()
    }
    re = counts.repartition(13)
    two = {
        r.token: r.cms_est
        for r in SK.cms_estimate_portable(
            SK.cms_cells_from_counts(re), re.select("token")
        ).collect()
    }
    assert one == two


def test_bloom_no_false_negatives_and_merge(spark, sf_dir):
    """Every member probes to hit=1 (one-sided error), non-members are
    mostly 0 at this fill rate, and sharded bit relations merged by
    union+distinct equal the whole-set build."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.concat(F.lit("fp:"), F.col("doc_id")).alias("fp")
    )
    members = docs.where(F.col("doc_id") % 2 == 0)
    others = docs.where(F.col("doc_id") % 2 != 0)
    bits = SK.bloom_bits(members, "fp")
    hits = {
        r.doc_id: r.bloom_hit
        for r in SK.bloom_probe(bits, docs, "fp").collect()
    }
    member_ids = {r.doc_id for r in members.collect()}
    for did in member_ids:
        assert hits[did] == 1, did            # no false negatives, ever
    other_ids = [r.doc_id for r in others.collect()]
    fp_rate = sum(hits[d] for d in other_ids) / max(len(other_ids), 1)
    n, m, k = len(member_ids), SK.BLOOM_M, SK.BLOOM_K
    expected = (1.0 - math.exp(-k * n / m)) ** k
    assert fp_rate <= max(5 * expected, 0.05), (fp_rate, expected)
    # shard merge: union of the two halves' bit relations == whole build
    half1 = SK.bloom_bits(members.where(F.col("doc_id") % 4 == 0), "fp")
    half2 = SK.bloom_bits(members.where(F.col("doc_id") % 4 != 0), "fp")
    merged = {r.pos for r in half1.unionAll(half2).distinct().collect()}
    whole = {r.pos for r in bits.collect()}
    assert merged == whole


# --------------------------------------------- histogram quantile sketch


def test_hist_quantile_error_bound_and_invariance(spark, sf_dir):
    """Estimates land within one bin-width of the exact discrete
    percentile, and — integer bin counts + a single fixed float
    expression — are bit-identical under repartitioning."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bins = 128
    qs = {"p50": 0.5, "p90": 0.9}
    est = {
        r.l_returnflag: (r.p50, r.p90)
        for r in SK.hist_quantile(
            l, ["l_returnflag"], "l_extendedprice", qs, bins=bins, ndigits=4
        ).collect()
    }
    exact = {
        r.l_returnflag: (r.e50, r.e90, r.vmin, r.vmax)
        for r in l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("e50"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
            ).alias("e90"),
            F.min("l_extendedprice").alias("vmin"),
            F.max("l_extendedprice").alias("vmax"),
        )
        .collect()
    }
    for g, (p50, p90) in est.items():
        e50, e90, vmin, vmax = exact[g]
        bw = (vmax - vmin) / bins
        assert abs(p50 - e50) <= bw + 1e-6, (g, p50, e50, bw)
        assert abs(p90 - e90) <= bw + 1e-6, (g, p90, e90, bw)
    again = {
        r.l_returnflag: (r.p50, r.p90)
        for r in SK.hist_quantile(
            l.repartition(13), ["l_returnflag"], "l_extendedprice", qs,
            bins=bins, ndigits=4,
        ).collect()
    }
    assert est == again


def test_hist_quantile_degenerate_group(spark):
    """A constant-valued group has zero span (every row lands in bin 0,
    every estimate equals the constant), and NULL values are dropped
    before binning instead of poisoning the window order."""
    df = spark.createDataFrame(
        [("a", 7.0)] * 10
        + [("a", None)] * 3
        + [("b", float(i)) for i in range(100)],
        "g string, v double",
    )
    out = {
        r.g: (r.p50, r.p90)
        for r in SK.hist_quantile(df, ["g"], "v", {"p50": 0.5, "p90": 0.9}).collect()
    }
    assert out["a"] == (7.0, 7.0)
    assert 40.0 <= out["b"][0] <= 60.0 and 85.0 <= out["b"][1] <= 95.0


def test_hist_quantile_bins_merge_like_a_sketch(spark, sf_dir):
    """The histogram's state is (group, bin) integer counts — shard
    histograms merged by cell-wise addition must equal the whole-data
    histogram (the same mergeability contract as CMS cells), which is
    what makes it the shard-rollup/streaming percentile path."""
    from pyspark.sql import functions as F2

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    v = F.col("l_extendedprice").cast("double")
    bins = 64
    stats = l.groupBy("l_returnflag").agg(
        F.min(v).alias("vmin"), F.max(v).alias("vmax")
    )
    bin_ = F.when(F.col("vmax") == F.col("vmin"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(bins - 1).cast("long"),
            F.floor((v - F.col("vmin")) / (F.col("vmax") - F.col("vmin")) * bins),
        )
    )

    def hist_of(df):
        return {
            (r.l_returnflag, r.bin): r.bc
            for r in df.join(F2.broadcast(stats), "l_returnflag")
            .select("l_returnflag", bin_.alias("bin"))
            .groupBy("l_returnflag", "bin")
            .agg(F.count(F.lit(1)).alias("bc"))
            .collect()
        }

    whole = hist_of(l)
    h1 = hist_of(l.where(F.col("l_orderkey") % 2 == 0))
    h2 = hist_of(l.where(F.col("l_orderkey") % 2 == 1))
    merged: dict = {}
    for h in (h1, h2):
        for k, c in h.items():
            merged[k] = merged.get(k, 0) + c
    assert merged == whole


def test_hll_intersection_estimate(spark, sf_dir):
    """Register set algebra: |A ∩ B| by inclusion-exclusion over the
    max-merged union sketch lands within the compounded error band of
    the exact overlap, and needs no second pass over the data."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a_rows = e.where(F.col("event_type") == "click")
    b_rows = e.where(F.col("event_type") == "purchase")
    a = SK.hll_registers(a_rows.withColumn("g", F.lit("x")), ["g"], "user_id")
    b = SK.hll_registers(b_rows.withColumn("g", F.lit("x")), ["g"], "user_id")
    est = SK.hll_intersect_est(a, b, ["g"]).collect()[0].hll_intersect_est
    exact = (
        a_rows.select("user_id")
        .intersect(b_rows.select("user_id"))
        .count()
    )
    # three ±1.04/sqrt(m) estimates compound; allow 3×3 standard errors
    tol = 9 * 1.04 / (1 << SK.HLL_P) ** 0.5 * max(
        a_rows.select("user_id").distinct().count(),
        b_rows.select("user_id").distinct().count(),
    )
    assert abs(est - exact) <= max(tol, 5), (est, exact, tol)
    assert est >= 0.0


def test_hll_estimate_from_registers_matches_direct(spark, sf_dir):
    """The split-out register estimator is THE estimator: composing
    hll_registers + hll_distinct_from_registers equals hll_distinct."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    direct = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct(e, ["event_type"], "user_id").collect()
    }
    regs = SK.hll_registers(e, ["event_type"], "user_id")
    split = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct_from_registers(regs, ["event_type"]).collect()
    }
    assert direct == split


def test_hll_estimator_heals_raw_unions_and_keeps_lone_groups(spark, sf_dir):
    """The register estimator re-maxes defensively, so a RAW union of
    shard register relations (duplicate (group, b) rows) estimates
    identically to the properly max-merged state; and the intersection
    estimate reports a true 0-overlap row for a group present on only
    one side instead of dropping it."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = SK.hll_registers(e.where(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = SK.hll_registers(e.where(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    raw = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct_from_registers(a.unionAll(b), ["event_type"]).collect()
    }
    merged_regs = a.unionAll(b).groupBy("event_type", "b").agg(F.max("M").alias("M"))
    merged = {
        r.event_type: r.hll_est
        for r in SK.hll_distinct_from_registers(merged_regs, ["event_type"]).collect()
    }
    assert raw == merged
    # lone-group semantics: restrict b to one event type; every type in
    # a must still appear in the intersection output
    types = sorted(raw)
    b_one = SK.hll_registers(
        e.where((F.col("event_id") % 2 == 1) & (F.col("event_type") == types[0])),
        ["event_type"],
        "user_id",
    )
    inter = {
        r.event_type: r.hll_intersect_est
        for r in SK.hll_intersect_est(a, b_one, ["event_type"]).collect()
    }
    assert set(inter) == set(types)
    for t in types[1:]:
        assert inter[t] == 0.0, (t, inter[t])


def test_hll_intersect_est_column_order_independent(spark, sf_dir):
    """ADVICE r8: a register relation whose columns arrive in a
    different physical order must merge by NAME, not position — the
    scrambled-b estimate equals the in-order estimate exactly."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = SK.hll_registers(
        e.where(F.col("event_id") % 2 == 0), ["event_type"], "user_id"
    )
    b = SK.hll_registers(
        e.where(F.col("event_id") % 2 == 1), ["event_type"], "user_id"
    )
    ordered = {
        r.event_type: r.hll_intersect_est
        for r in SK.hll_intersect_est(a, b, ["event_type"]).collect()
    }
    scrambled = {
        r.event_type: r.hll_intersect_est
        for r in SK.hll_intersect_est(
            a, b.select("M", "b", "event_type"), ["event_type"]
        ).collect()
    }
    assert ordered == scrambled


def test_bloom_bits_drops_null_members(spark):
    """ADVICE r8: NULL members must not leave a NULL pos row in the bit
    relation — the build over a column with NULLs equals the build over
    its non-NULL subset, and probes are unaffected."""
    rows = [(i, f"fp:{i}" if i % 3 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, fp string")
    bits = SK.bloom_bits(df, "fp")
    got = {r.pos for r in bits.collect()}
    assert None not in got
    clean = {
        r.pos
        for r in SK.bloom_bits(df.where(F.col("fp").isNotNull()), "fp").collect()
    }
    assert got == clean
    hits = {
        r.id: r.bloom_hit for r in SK.bloom_probe(bits, df, "fp").collect()
    }
    for i in range(60):
        if i % 3:
            assert hits[i] == 1, i


@pytest.mark.parametrize("bad_pos", [-1, -64, 64])
def test_bloom_probe_rejects_positions_outside_m(spark, bad_pos):
    """A bit relation built for another m must fail loudly: a negative
    position would otherwise alias into the last word (stray hits) and
    one at or past m would index past the mask."""
    m = 64
    bits = spark.createDataFrame([(3,), (bad_pos,)], "pos long")
    probes = spark.createDataFrame([("a",)], "fp string")
    with pytest.raises(ValueError, match=r"outside \[0, 64\)"):
        SK.bloom_probe(bits, probes, "fp", m=m)


class TestKLL:
    """KLL quantile sketch (functions/kll.py; VERDICT r9 #7): rank-error
    bound, merge order-insensitivity, determinism, wire roundtrip, and
    the Spark two-stage fold."""

    EPS = 0.02  # generous vs the measured ~0.005 at k=200

    def _rank(self, sorted_vals, x):
        import bisect

        return bisect.bisect_right(sorted_vals, x) / len(sorted_vals)

    def test_rank_error_uniform_and_heavy_tail(self):
        import random

        from unimib_simpss_spark.functions.kll import KLL

        rng = random.Random(42)
        for gen in (rng.random, lambda: rng.paretovariate(1.2)):
            vals = [gen() for _ in range(50_000)]
            sk = KLL(200)
            for v in vals:
                sk.add(v)
            sv = sorted(vals)
            for p in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
                assert abs(self._rank(sv, sk.quantile(p)) - p) < self.EPS
            # state stays O(k log(n/k)), nowhere near n
            assert sk.size() < 1000

    def test_merge_matches_single_sketch_bound_any_order(self):
        import random

        from unimib_simpss_spark.functions.kll import KLL

        rng = random.Random(7)
        vals = [rng.gauss(0, 1) for _ in range(30_000)]
        sv = sorted(vals)

        def shards(order):
            sks = [KLL(200) for _ in range(8)]
            for i, v in enumerate(vals):
                sks[i % 8].add(v)
            out = sks[order[0]]
            for i in order[1:]:
                out.merge(sks[i])
            return out

        for order in ([0, 1, 2, 3, 4, 5, 6, 7], [7, 3, 5, 1, 6, 0, 2, 4]):
            m = shards(order)
            assert m.n == len(vals)
            for p in (0.1, 0.5, 0.9):
                assert abs(self._rank(sv, m.quantile(p)) - p) < self.EPS

    def test_deterministic_and_wire_roundtrip(self):
        import random

        from unimib_simpss_spark.functions.kll import KLL

        rng = random.Random(3)
        vals = [rng.random() for _ in range(10_000)]
        a, b = KLL(64), KLL(64)
        for v in vals:
            a.add(v)
            b.add(v)
        assert a.to_bytes() == b.to_bytes()
        c = KLL.from_bytes(a.to_bytes())
        assert c.n == a.n
        assert [c.quantile(p) for p in (0.25, 0.5, 0.75)] == [
            a.quantile(p) for p in (0.25, 0.5, 0.75)
        ]

    def test_small_inputs_are_exact(self):
        from unimib_simpss_spark.functions.kll import KLL

        sk = KLL(64)
        for v in [5.0, 1.0, 3.0, 2.0, 4.0]:
            sk.add(v)
        # fewer items than capacity → nothing compacted → exact
        assert sk.quantile(0.0) == 1.0
        assert sk.quantile(0.5) == 3.0
        assert sk.quantile(1.0) == 5.0
        import pytest as _pytest

        with _pytest.raises(ValueError):
            KLL(64).quantile(0.5)
        with _pytest.raises(ValueError):
            sk.quantile(1.5)
        with _pytest.raises(ValueError):
            sk.merge(KLL(128))

    def test_spark_two_stage_fold_vs_exact(self, spark, sf_dir):
        import bisect

        from pyspark.sql import functions as F

        from unimib_simpss_spark.functions.sketches import kll_quantiles

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        got = {
            r.l_returnflag: r
            for r in kll_quantiles(
                li, ["l_returnflag"], "l_extendedprice",
                {"p50": 0.5, "p90": 0.9}, k=200,
            ).collect()
        }
        for flag in got:
            vals = sorted(
                r.l_extendedprice
                for r in li.where(F.col("l_returnflag") == flag)
                .select("l_extendedprice")
                .collect()
            )
            assert got[flag].n == len(vals)
            for name, p in (("p50", 0.5), ("p90", 0.9)):
                est = getattr(got[flag], name)
                rk = bisect.bisect_right(vals, est) / len(vals)
                assert abs(rk - p) < self.EPS, (flag, name, rk)

    def test_spark_nulls_dropped(self, spark):
        from unimib_simpss_spark.functions.sketches import kll_quantiles

        df = spark.createDataFrame(
            [("a", float(i)) for i in range(100)] + [("a", None)] * 10,
            "g string, v double",
        )
        r = kll_quantiles(df, ["g"], "v", {"p50": 0.5}).collect()[0]
        assert r.n == 100
        assert 40.0 <= r.p50 <= 60.0

    def test_spark_nans_dropped_like_nulls(self, spark):
        """ADVICE r10 — NaN must share NULL's convention (as in the
        streaming twin's pd.isna skip): a NaN reaching KLL.add's insort
        would corrupt the sorted-level invariant silently."""
        from unimib_simpss_spark.functions.sketches import kll_quantiles

        df = spark.createDataFrame(
            [("a", float(i)) for i in range(100)]
            + [("a", float("nan"))] * 10,
            "g string, v double",
        )
        r = kll_quantiles(df, ["g"], "v", {"p50": 0.5}).collect()[0]
        assert r.n == 100
        assert 40.0 <= r.p50 <= 60.0


def test_kll_quantiles_output_deterministic_across_runs(spark, sf_dir):
    """CODE-REVIEW r10 — applyInPandas delivers a group's partial
    sketches in no guaranteed order and KLL merge is order-sensitive;
    the sorted-bytes fold must make repeated runs identical."""
    from unimib_simpss_spark.functions.sketches import kll_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def run():
        return sorted(
            tuple(r)
            for r in kll_quantiles(
                li.repartition(16), ["l_returnflag"], "l_extendedprice",
                {"p50": 0.5, "p90": 0.9}, k=64,
            ).collect()
        )

    assert run() == run()


class TestJoinSize:
    """Join-cardinality estimation: the exact per-key-count form and
    the CMS inner-product form (fixed-size, mergeable, works from
    pre-aggregated sketch state)."""

    def test_exact_matches_actual_join(self, spark, sf_dir):
        from unimib_simpss_spark.functions.sketches import (
            join_cardinality_exact,
        )

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        est = join_cardinality_exact(
            o, "o_orderkey", li, "l_orderkey"
        ).collect()[0]
        actual = o.join(
            li, o.o_orderkey == li.l_orderkey
        ).count()
        assert est.join_rows == actual
        assert est.max_key_product >= 1

    def test_exact_disjoint_keys_report_zero_not_null(self, spark):
        """ADVICE r10 — fully disjoint key sets mean an EMPTY join,
        which is a real answer: 0 rows, 0 shared keys, 0 hottest-key
        product — not NULL."""
        from pyspark.sql import functions as F

        from unimib_simpss_spark.functions.sketches import (
            join_cardinality_exact,
        )

        a = spark.range(100).select(F.col("id").alias("k"))
        b = spark.range(100, 200).select(F.col("id").alias("k"))
        r = join_cardinality_exact(a, "k", b, "k").collect()[0]
        assert (r.join_rows, r.n_shared_keys, r.max_key_product) == (0, 0, 0)

    def test_cms_inner_product_bounds(self, spark):
        """est >= exact always (collisions only add), and within the
        epsilon*|A|*|B| CMS bound at the default grid."""
        from pyspark.sql import functions as F

        from unimib_simpss_spark.functions.sketches import (
            DEFAULT_WIDTH,
            cms_build,
            cms_join_size,
            join_cardinality_exact,
        )

        import math

        a = spark.range(3000).select((F.col("id") % 500).alias("k"))
        b = spark.range(2000).select((F.col("id") % 300).alias("k"))
        exact = join_cardinality_exact(a, "k", b, "k").collect()[0].join_rows
        est = cms_join_size(
            cms_build(a, "k"), cms_build(b, "k")
        ).collect()[0].est_join_rows
        assert est >= exact
        eps = math.e / DEFAULT_WIDTH
        assert est <= exact + eps * 3000 * 2000

    def test_cms_join_size_from_merged_shards(self, spark):
        """The mergeable-state story: sketches of two shards merged
        cell-wise give the same estimate as sketching the union."""
        from pyspark.sql import functions as F

        from unimib_simpss_spark.functions.sketches import (
            cms_build,
            cms_join_size,
            cms_merge,
        )

        a1 = spark.range(1000).select((F.col("id") % 100).alias("k"))
        a2 = spark.range(1000, 2500).select((F.col("id") % 100).alias("k"))
        b = spark.range(800).select((F.col("id") % 90).alias("k"))
        merged = cms_merge(cms_build(a1, "k"), cms_build(a2, "k"))
        whole = cms_build(a1.unionAll(a2), "k")
        sb = cms_build(b, "k")
        assert (
            cms_join_size(merged, sb).collect()[0].est_join_rows
            == cms_join_size(whole, sb).collect()[0].est_join_rows
        )


def test_cms_join_size_disjoint_keys_estimates_zero_or_small(spark):
    """CODE-REVIEW r10 — a hash row with no overlapping cells proves
    the join is empty; its 0 must enter the min (no silent row drop),
    and fully-disjoint sketches must yield 0, never NULL."""
    from pyspark.sql import functions as F

    from unimib_simpss_spark.functions.sketches import (
        cms_build,
        cms_join_size,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(5)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(5)], "k string")
    est = cms_join_size(cms_build(a, "k"), cms_build(b, "k")).collect()[0]
    assert est.est_join_rows == 0
