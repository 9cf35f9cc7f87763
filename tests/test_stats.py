

def test_ndv_sketch_merge_exact_and_overlap_idempotent(spark):
    """HLL rollup mergeability: merge of disjoint halves == single
    pass EXACTLY; merging OVERLAPPING slices is idempotent (union
    semantics, unlike additive count rollups); estimate-mode error
    stays inside the lgk=12 band at 50k distinct values."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        merge_ndv_rollups,
        ndv_estimate,
        ndv_rollup,
    )

    big = spark.range(50_000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") * 7919).alias("v")
    )
    single = {r["grp"]: r["ndv"] for r in ndv_estimate(
        ndv_rollup(big, "g", "v")).collect()}
    halves = merge_ndv_rollups(
        ndv_rollup(big.filter("id % 2 = 0"), "g", "v"),
        ndv_rollup(big.filter("id % 2 = 1"), "g", "v"),
    )
    merged = {r["grp"]: r["ndv"] for r in ndv_estimate(halves).collect()}
    assert merged == single
    # overlapping re-ingest: sketch union is idempotent on ndv
    over = merge_ndv_rollups(
        ndv_rollup(big, "g", "v"), ndv_rollup(big.filter("id < 30000"), "g", "v")
    )
    again = {r["grp"]: r["ndv"] for r in ndv_estimate(over).collect()}
    assert again == single
    # error band: 12500 exact per group, lgk=12 -> ~1.6% std err
    for g, est in single.items():
        assert abs(est - 12_500) / 12_500 < 0.05, (g, est)

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        merge_ndv_rollups()


def test_frequent_items_exact_vs_brute_force(spark):
    """frequent_items == brute-force GROUP BY + HAVING cnt*k > n on a
    skewed corpus, across partition layouts (the MG candidate pass
    must never lose a true heavy hitter); NULLs excluded; k guard."""
    import pytest

    from hdk_spark.operators.sketches import frequent_items

    # skew: 'hot0'/'hot1' huge, a mid tier, and a long unique tail
    rows = []
    for i in range(3000):
        if i % 3 != 2:
            rows.append((i, f"hot{i % 2}"))
        elif i % 9 == 2:
            rows.append((i, f"mid{i % 27}"))
        else:
            rows.append((i, f"tail{i}"))
    rows += [(90000 + j, None) for j in range(10)]
    df = spark.createDataFrame(rows, "id: long, v: string")

    from collections import Counter

    counts = Counter(v for _, v in rows if v is not None)
    n = sum(counts.values())
    for k in (5, 20, 100):
        expect = sorted(
            ((v, c) for v, c in counts.items() if c * k > n),
            key=lambda t: (-t[1], t[0]),
        )
        for parts in (1, 7):
            got = [
                (r["item"], r["cnt"])
                for r in frequent_items(df.repartition(parts), "v", k).collect()
            ]
            assert got == expect, (k, parts)
            assert all(
                r["n_total"] == n
                for r in frequent_items(df.repartition(parts), "v", k).collect()
            )

    with pytest.raises(ValueError, match="k"):
        frequent_items(df, "v", 0)


def test_mg_summary_matches_python_reference(spark):
    """mg_summary == pure-Python one-round sharded MG (exact counts →
    single (k+1)-th-largest-value trim → drop non-positives), md5
    sharding replicated byte-for-byte; order/partitioning
    independence; no-trim shards pass counts through exactly; ≤ k
    rows per shard; guards."""
    import hashlib
    from collections import Counter

    import pytest

    from hdk_spark.operators.sketches import mg_summary

    rows = []
    for i in range(2000):
        if i % 3 != 2:
            rows.append((i, f"hot{i % 2}"))
        elif i % 9 == 2:
            rows.append((i, f"mid{i % 27}"))
        else:
            rows.append((i, f"tail{i}"))
    rows += [(90000 + j, None) for j in range(5)]
    df = spark.createDataFrame(rows, "id: long, v: string")

    def shard_of(v, n_shards):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % n_shards

    def reference(k, n_shards):
        per = {}
        for _, v in rows:
            if v is not None:
                per.setdefault(shard_of(v, n_shards), []).append(v)
        out = set()
        for s, items in per.items():
            counters = dict(Counter(items))
            n_shard = len(items)
            if len(counters) > k:
                med = sorted(counters.values(), reverse=True)[k]
                counters = {v: c - med for v, c in counters.items()
                            if c - med > 0}
            if counters:
                out |= {(s, v, c, n_shard) for v, c in counters.items()}
            else:  # all-trimmed shard keeps its accounting row
                out.add((s, None, None, n_shard))
        return out

    for k, n_shards in ((3, 4), (5, 2), (1000, 4)):
        expect = reference(k, n_shards)
        for parts in (1, 7):
            got = {
                (r["shard"], r["item"], r["cnt"], r["n_shard"])
                for r in mg_summary(
                    df.repartition(parts), "v", k=k, n_shards=n_shards,
                    hash_basis="md5",
                ).collect()
            }
            assert got == expect, (k, n_shards, parts)
        per_shard = Counter(s for s, it, *_ in expect if it is not None)
        assert all(c <= k for c in per_shard.values())
    # k=1000 >> distinct: no trim anywhere -> summary is exact counts
    exact = Counter(v for _, v in rows if v is not None)
    big = mg_summary(df, "v", k=1000, n_shards=4, hash_basis="md5")
    assert {(r["item"], r["cnt"]) for r in big.collect()} == set(exact.items())

    with pytest.raises(ValueError, match="k"):
        mg_summary(df, "v", k=0)
    with pytest.raises(ValueError, match="n_shards"):
        mg_summary(df, "v", k=5, n_shards=0)


def test_mg_summary_retains_only_bounded_cache(spark):
    """mg_summary's build-scoped persist: after the (eager) build,
    the vocabulary-sized count intermediate is RELEASED — the session
    retains only summary-sized cached relations, so repeated builds
    over many slices cannot accumulate vocabulary-scale storage.
    Pinned via the JVM's persistent-RDD registry: every cache entry
    alive after N builds is small (snapshot-count bounded), none is
    the ~2000-distinct-item count relation."""
    from hdk_spark.operators.sketches import mg_summary

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    rows = [(i, f"v{(i * 17) % 2003}") for i in range(6000)]
    df = spark.createDataFrame(rows, "id: long, v: string")
    for _ in range(2):
        mg_summary(df, "v", k=8, n_shards=4, hash_basis="md5")
    jmap = sc._jsc.getPersistentRDDs()
    new_ids = [i for i in jmap.keySet().toArray() if i not in before]
    # the two builds share a logical plan, so Spark's cache manager
    # dedupes them into ONE summary-sized entry; the vocabulary-sized
    # cnt caches (~2003 distinct items) must all be gone
    assert len(new_ids) <= 2, new_ids
    for i in new_ids:
        n = jmap.get(i).count()
        assert n <= 4 * (8 + 1), (i, n)


def test_mg_merge_guarantees_and_exact_case(spark):
    """mg_merge(mg(A), mg(B)) vs exact counts of A ∪ B: (a) never
    over, (b) undercount ≤ (n_shard − Σcnt)/(k+1) — the Agarwal et
    al. merged-summary bound, (c) every item with union count >
    n_shard/(k+1) survives, (d) ≤ k rows/shard, (e) n_shard equals
    the true union shard volume, (f) when no trim fires anywhere
    (huge k) merge == mg_summary(A ∪ B) bit-for-bit, (g) guards."""
    import hashlib
    from collections import Counter

    import pytest

    from hdk_spark.operators.sketches import mg_merge, mg_summary

    k, n_shards = 3, 2
    rows_a = [(i, "heavy" if i % 3 == 0 else f"a{i % 13}")
              for i in range(900)]
    rows_b = [(i, "heavy" if i % 4 == 0 else f"b{i % 11}")
              for i in range(900, 1800)]
    df_a = spark.createDataFrame(rows_a, "id: long, v: string")
    df_b = spark.createDataFrame(rows_b, "id: long, v: string")
    kw = dict(k=k, n_shards=n_shards, hash_basis="md5")
    sa, sb = mg_summary(df_a, "v", **kw), mg_summary(df_b, "v", **kw)
    # slice B's b-items all tie (uniform i % 11), so one of its shards
    # trims to nothing — it must still carry its volume as an
    # accounting row (item NULL), or the merged n_shard would lie
    assert any(r["item"] is None for r in sb.collect())
    merged = mg_merge(sa, sb, k=k).collect()

    def shard_of(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % n_shards

    union = rows_a + rows_b
    true = Counter((shard_of(v), v) for _, v in union)
    n_true = Counter(shard_of(v) for _, v in union)
    by_shard: dict = {}
    for r in merged:
        if r["item"] is not None:
            by_shard.setdefault(r["shard"], {})[r["item"]] = r["cnt"]
        assert r["n_shard"] == n_true[r["shard"]]
    for s, counters in by_shard.items():
        assert len(counters) <= k
        err = (n_true[s] - sum(counters.values())) / (k + 1)
        for item, cnt in counters.items():
            assert cnt <= true[(s, item)], (s, item)
            assert true[(s, item)] - cnt <= err + 1e-9, (s, item)
        for (ts, item), c in true.items():
            if ts == s and c > n_true[s] / (k + 1):
                assert item in counters, (s, item, c)
    assert "heavy" in by_shard[shard_of("heavy")]

    big = dict(k=1000, n_shards=n_shards, hash_basis="md5")
    exact_merge = sorted(map(tuple, mg_merge(
        mg_summary(df_a, "v", **big), mg_summary(df_b, "v", **big),
        k=1000).collect()))
    exact_union = sorted(map(tuple, mg_summary(
        df_a.unionByName(df_b), "v", **big).collect()))
    assert exact_merge == exact_union

    with pytest.raises(ValueError, match="k"):
        mg_merge(mg_summary(df_a, "v", **kw), k=0)
    with pytest.raises(ValueError, match="input"):
        mg_merge(k=3)


def test_mg_heavy_hitters_bounds_and_certainty(spark):
    """mg_heavy_hitters vs brute truth on a skewed corpus: (a) every
    emitted lower/upper bound actually brackets the item's true
    count; (b) 'certain' items truly clear φ·N; (c) NO true φ-heavy
    item is missed — valid here because the parameters satisfy the
    documented completeness precondition φ·N > n_s/(k+1) (φ·N = 200
    vs max shard threshold ≈ 2000/4/6 ≈ 84 at k=5); (d) with k ≥
    distinct (no trim, zero slack) the output is exact counts with
    certain == (cnt ≥ φN); (e) guards; (f) BELOW the precondition a
    fully-trimmed φ-heavy item is genuinely absent — the docstring's
    honest limit, pinned as behavior rather than left as prose."""
    from collections import Counter

    import pytest

    from hdk_spark.operators.sketches import mg_heavy_hitters, mg_summary

    rows = [(i, "hot" if i % 4 == 0 else
             ("warm" if i % 4 == 1 else f"cold{i % 97}"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "id: long, v: string")
    true = Counter(v for _, v in rows)
    n = len(rows)

    for k in (5, 1000):
        summ = mg_summary(df, "v", k=k, n_shards=4, hash_basis="md5")
        got = mg_heavy_hitters(summ, phi=0.1, k=k).collect()
        emitted = {r["item"] for r in got}
        for r in got:
            assert r["cnt_lower"] <= true[r["item"]] <= r["cnt_upper"], r
            if r["certain"]:
                assert true[r["item"]] >= 0.1 * n, r
        for item, c in true.items():
            if c >= 0.1 * n:
                assert item in emitted, (k, item, c)
        if k == 1000:  # no trim -> exact, and certainty is exact too
            for r in got:
                assert r["cnt_lower"] == r["cnt_upper"] == true[r["item"]]
                assert r["certain"] == (true[r["item"]] >= 0.1 * n)
            assert emitted == {i for i, c in true.items() if c >= 0.1 * n}

    summ = mg_summary(df, "v", k=5, n_shards=4, hash_basis="md5")
    with pytest.raises(ValueError, match="phi"):
        mg_heavy_hitters(summ, phi=0.0, k=5)
    with pytest.raises(ValueError, match="k"):
        mg_heavy_hitters(summ, phi=0.1, k=0)

    # (f) the documented completeness LIMIT: below the precondition
    # phi*N > n_s/(k+1), a fully-trimmed phi-heavy item is absent.
    # 10 big items (31..40) push the rank-6 trim value to 35, which
    # wipes the 25-count victim; phi=0.036 makes it phi-heavy
    # (phi*N = 24.48 <= 25) while n_s/(k+1) = 113 >> phi*N.
    rows2 = []
    rid = 0
    for b, c in enumerate(range(31, 41)):
        rows2 += [(rid + j, f"big{b}") for j in range(c)]
        rid += c
    rows2 += [(10_000 + j, "victim") for j in range(25)]
    rows2 += [(20_000 + j, f"tail{j}") for j in range(300)]
    df2 = spark.createDataFrame(rows2, "id: long, v: string")
    summ2 = mg_summary(df2, "v", k=5, n_shards=1, hash_basis="md5")
    got2 = mg_heavy_hitters(summ2, phi=0.036, k=5).collect()
    emitted2 = {r["item"] for r in got2}
    truth2 = Counter(v for _, v in rows2)
    assert truth2["victim"] >= 0.036 * len(rows2)  # truly phi-heavy
    assert "victim" not in emitted2  # ...and genuinely missed
    # the survivors' slack-widened upper bounds still bracket truth
    for r in got2:
        assert r["cnt_lower"] <= truth2[r["item"]] <= r["cnt_upper"], r


def test_mg_trim_bound():
    """The trim keeps at most k counters and undercounts any item by
    at most (N - sum(counters)) / (k+1) — the Misra-Gries invariant,
    checked by folding a worst-case adversarial stream."""
    from collections import Counter

    from hdk_spark.operators.sketches import _mg_trim

    stream = [f"x{i % 37}" for i in range(500)] + ["hh"] * 100
    true = Counter(stream)
    k = 10
    counters: dict = {}
    # fold in chunks like the batch kernel does
    for pos in range(0, len(stream), 50):
        for v, c in Counter(stream[pos:pos + 50]).items():
            counters[v] = counters.get(v, 0) + c
        _mg_trim(counters, k)
    assert len(counters) <= k
    slack = (len(stream) - sum(counters.values())) / (k + 1)
    for item, t in true.items():
        assert counters.get(item, 0) >= t - slack - 1e-9


def test_chi2_contingency_reference_and_invariants(spark):
    """chi2 matches the closed-form Pearson statistic on a 2x2 and a
    3x2 table (including absent cells, which still contribute their
    expected mass); perfectly dependent columns give chi2 = n and
    Cramer's V = 1; independent-by-construction columns give chi2 = 0;
    NULLs excluded; deterministic under repartition."""
    from hdk_spark.operators.stats import chi2_contingency

    rows = ([("x", "p")] * 10 + [("x", "q")] * 20
            + [("y", "p")] * 30 + [("y", "q")] * 40)
    df = spark.createDataFrame(rows, "a: string, b: string")
    got = chi2_contingency(df, "a", "b").collect()[0]
    assert got["n_items"] == 100 and got["dof"] == 1
    assert abs(got["chi2"] - 0.793651) < 1e-9  # (O*n-r*c)^2/(n*r*c) sum

    # 3x2 with an absent cell: z never pairs with q
    rows3 = ([("x", "p")] * 4 + [("x", "q")] * 6 + [("y", "p")] * 5
             + [("y", "q")] * 5 + [("z", "p")] * 8)
    df3 = spark.createDataFrame(rows3, "a: string, b: string")
    g3 = chi2_contingency(df3, "a", "b").collect()[0]
    n = 28
    r = {"x": 10, "y": 10, "z": 8}
    c = {"p": 17, "q": 11}
    O = {("x", "p"): 4, ("x", "q"): 6, ("y", "p"): 5, ("y", "q"): 5,
         ("z", "p"): 8, ("z", "q"): 0}
    expect = sum((O[(i, j)] * n - r[i] * c[j]) ** 2 / (n * r[i] * c[j])
                 for i in r for j in c)
    assert abs(g3["chi2"] - round(expect, 6)) < 2e-6
    assert g3["dof"] == 2

    # perfect dependence / exact independence
    dep = spark.createDataFrame(
        [("x", "p")] * 5 + [("y", "q")] * 7, "a: string, b: string")
    gd = chi2_contingency(dep, "a", "b").collect()[0]
    assert gd["chi2"] == 12.0 and gd["cramers_v"] == 1.0
    ind = spark.createDataFrame(
        [(f"a{i % 2}", f"b{j % 3}") for i in range(2) for j in range(3)
         for _ in range(4)], "a: string, b: string")
    assert chi2_contingency(ind, "a", "b").collect()[0]["chi2"] == 0.0

    again = chi2_contingency(df.repartition(7), "a", "b").collect()[0]
    assert again == got


def test_calibration_curve_reference(spark):
    """Per-bin means/rates match hand arithmetic; score 1.0 lands in
    the top bin and out-of-range scores clamp; NULLs excluded; order-
    independent under repartition; n_bins guard."""
    import pytest

    from hdk_spark.operators.stats import calibration_curve

    rows = [
        (0.05, 0), (0.05, 0), (0.09, 1),        # bin 0
        (0.55, 1), (0.50, 0),                   # bin 5
        (1.00, 1), (0.95, 1), (1.20, 0),        # bin 9 (1.0 & 1.2 clamp)
        (-0.30, 0),                             # clamps to bin 0
        (None, 1), (0.4, None),
    ]
    df = spark.createDataFrame(rows, "score: double, label: int")
    got = {r["bin"]: r for r in calibration_curve(df, "score", "label").collect()}
    assert set(got) == {0, 5, 9}
    b0 = got[0]
    assert b0["n"] == 4 and b0["pos_rate"] == 0.25
    assert abs(b0["mean_score"] - round((0.05 + 0.05 + 0.09 - 0.30) / 4, 6)) < 1e-12
    assert got[5]["n"] == 2 and got[5]["pos_rate"] == 0.5
    b9 = got[9]
    assert b9["n"] == 3 and abs(b9["mean_score"] - 1.05) < 1e-9
    assert abs(b9["abs_gap"] - round(abs(1.05 - 2 / 3), 6)) < 1e-9

    again = {r["bin"]: r for r in
             calibration_curve(df.repartition(7), "score", "label").collect()}
    assert again == got

    with pytest.raises(ValueError, match="n_bins"):
        calibration_curve(df, "score", "label", 0)


def test_ks_test_exact(spark):
    """KS distance as exact integer cross-multiplication: hand cases
    (2/3 on shifted supports, 0 on identical, 1 on disjoint), other
    groups ignored, NULL values excluded, repartition-deterministic."""
    from hdk_spark.operators.stats import ks_test

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 3.0), ("b", 4.0), ("b", 5.0),
            ("c", 99.0), ("a", None)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    got = ks_test(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"], got["d_num"]) == (3, 3, 6)
    assert abs(got["d"] - round(2 / 3, 6)) < 1e-9

    same = [("a", float(i % 5)) for i in range(10)] + \
        [("b", float(i % 5)) for i in range(10)]
    g0 = ks_test(spark.createDataFrame(same, "g: string, v: double"),
                 "g", "v", "a", "b").collect()[0]
    assert g0["d"] == 0.0 and g0["d_num"] == 0

    disj = [("a", 1.0), ("a", 2.0), ("b", 9.0)]
    g1 = ks_test(spark.createDataFrame(disj, "g: string, v: double"),
                 "g", "v", "a", "b").collect()[0]
    assert g1["d"] == 1.0

    again = ks_test(df.repartition(5), "g", "v", "a", "b").collect()[0]
    assert again == got


def test_auc_score_exact(spark):
    """Mann-Whitney AUC with midrank ties: perfect separation -> 1,
    all-tied -> 0.5, the sklearn docs example -> 0.75, anti-scorer ->
    0, tie-heavy case cross-checked against the O(P*N) pair count,
    single-class -> NULL, repartition-deterministic."""
    from hdk_spark.operators.stats import auc_score

    def run(rows):
        return auc_score(
            spark.createDataFrame(rows, "s: double, y: int"), "s", "y"
        ).collect()[0]

    assert run([(0.9, 1), (0.8, 1), (0.7, 0), (0.6, 0)])["auc"] == 1.0
    assert run([(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)])["auc"] == 0.5
    assert run([(0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1)])["auc"] == 0.75
    assert run([(0.1, 1), (0.9, 0)])["auc"] == 0.0
    assert run([(0.3, 1)])["auc"] is None

    rows = [(float((i * 7) % 5) / 10, (i * 3) % 2) for i in range(40)]
    got = run(rows)
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0
               for p in pos for n in neg)
    assert abs(got["auc"] - round(wins / (len(pos) * len(neg)), 6)) < 1e-9

    df = spark.createDataFrame(rows, "s: double, y: int")
    again = auc_score(df.repartition(7), "s", "y").collect()[0]
    assert again == got


def test_pass_at_k_matches_comb(spark):
    """pass@k == 1 - C(n-c,k)/C(n,k) (math.comb reference) across the
    full edge grid incl. c=0, c=n, k>n-c, k>n; NULL rows excluded;
    c>n -> NULL; ks guard; map-only plan."""
    from math import comb

    import pytest

    from hdk_spark.operators.stats import pass_at_k

    rows = [(f"p{n}_{c}", n, c) for n in (1, 3, 5, 10, 20)
            for c in range(0, n + 1, max(1, n // 3))]
    df = spark.createDataFrame(rows, "problem_id: string, n: int, c: int")
    ks = (1, 5, 10)
    got = {r["problem_id"]: r for r in pass_at_k(df, "n", "c", ks).collect()}
    for pid, n, c in rows:
        for k in ks:
            exp = 1.0 if k > n - c else 1 - comb(n - c, k) / comb(n, k)
            if c == 0:
                exp = 0.0
            assert abs(got[pid][f"pass_at_{k}"] - round(exp, 6)) < 1e-9, \
                (pid, k)

    bad = spark.createDataFrame(
        [("x", 3, 5), ("y", None, 1)], "problem_id: string, n: int, c: int")
    out = {r["problem_id"]: r for r in pass_at_k(bad, "n", "c", (1,)).collect()}
    assert out["x"]["pass_at_1"] is None and "y" not in out

    plan = pass_at_k(df, "n", "c", ks)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan

    with pytest.raises(ValueError, match="ks"):
        pass_at_k(df, "n", "c", (0,))


def test_k_anonymity_audit(spark):
    """Group counts, below-k tallies, NULL-as-value quasi groups,
    l-diversity minimum, guards."""
    import pytest

    from hdk_spark.operators.stats import k_anonymity_audit

    rows = [("us", 30, "a"), ("us", 30, "b"), ("us", 30, "a"),
            ("de", 40, "c"), ("de", 40, "c"),
            ("fr", 50, "d"),
            (None, 30, "e"), (None, 30, "f")]
    df = spark.createDataFrame(rows, "country: string, age: int, disease: string")
    g = k_anonymity_audit(df, ["country", "age"], k=3,
                          sensitive_col="disease").collect()[0]
    assert (g["n_rows"], g["n_groups"], g["min_group_size"]) == (8, 4, 1)
    assert (g["groups_below_k"], g["rows_below_k"]) == (3, 5)
    assert g["pct_rows_at_risk"] == 0.625 and g["min_l"] == 1

    g2 = k_anonymity_audit(df, ["age"], k=2).collect()[0]
    assert g2["n_groups"] == 3 and "min_l" not in g2.asDict()
    assert g2["groups_below_k"] == 1  # age 50 singleton

    with pytest.raises(ValueError, match="quasi_cols"):
        k_anonymity_audit(df, [], k=2)
    with pytest.raises(ValueError, match="k"):
        k_anonymity_audit(df, ["age"], k=0)


def test_cms_merge_equals_build_bit_for_bit(spark):
    """Count-Min mergeability (Cormode & Muthukrishnan 2005): the
    merged sketch of two slices is the SAME RELATION as the sketch of
    the concatenated multiset — cell-for-cell, and therefore every
    point estimate is bit-for-bit equal. Holds for both hash bases."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import cms_build, cms_merge, cms_query

    import pytest

    src = spark.range(2_000).select(
        F.concat(F.lit("w"), (F.col("id") % 97).cast("string")).alias("v"),
        F.col("id"),
    )
    a, b = src.filter("id % 2 = 0"), src.filter("id % 2 = 1")
    for basis in ("xxhash64", "md5"):
        kw = dict(depth=4, width=64, seed=37, hash_basis=basis)
        merged = cms_merge(cms_build(a, "v", **kw), cms_build(b, "v", **kw))
        whole = cms_build(src, "v", **kw)
        cells_m = {(r["r"], r["b"]): r["c"] for r in merged.collect()}
        cells_w = {(r["r"], r["b"]): r["c"] for r in whole.collect()}
        assert cells_m == cells_w, basis
        vals = [f"w{i}" for i in range(0, 97, 13)] + ["absent"]
        est_m = {r["item"]: r["est"] for r in cms_query(merged, vals, **kw).collect()}
        est_w = {r["item"]: r["est"] for r in cms_query(whole, vals, **kw).collect()}
        assert est_m == est_w, basis

    with pytest.raises(ValueError, match="at least one"):
        cms_merge()


def test_cms_never_under_and_bounded_over(spark):
    """The classic CMS guarantee on a planted stream: estimate >= true
    count ALWAYS (counters only ever add), and with width w the
    overestimate is bounded by eps*N, eps = e/w (checked deterministic
    at the pinned seed; width 32 forces real collisions at 97 distinct
    items so the never-under property is exercised, not vacuous).
    Absent items estimate >= 0 with the same over bound."""
    import math

    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import cms_build, cms_query

    import pytest

    # item w_i appears (i+1) times: known exact counts, N = sum
    src = spark.range(97).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("id").cast("int")),
                lambda _: F.concat(F.lit("w"), F.col("id").cast("string")),
            )
        ).alias("v")
    )
    true = {f"w{i}": i + 1 for i in range(97)}
    n_total = sum(true.values())
    kw = dict(depth=4, width=32, seed=37)
    sk = cms_build(src, "v", **kw)
    vals = list(true) + ["never-seen-a", "never-seen-b"]
    est = {r["item"]: r["est"] for r in cms_query(sk, vals, **kw).collect()}
    bound = math.e / 32 * n_total
    collided = 0
    for item in vals:
        t = true.get(item, 0)
        assert est[item] >= t, (item, est[item], t)
        assert est[item] - t <= bound, (item, est[item], t, bound)
        collided += est[item] > t
    assert collided > 0  # width 32 << 97 items: collisions must exist

    with pytest.raises(ValueError, match="non-empty"):
        cms_query(sk, [], **kw)
    with pytest.raises(ValueError, match="depth/width"):
        cms_build(src, "v", depth=0)
    with pytest.raises(ValueError, match="hash_basis"):
        cms_build(src, "v", hash_basis="sha1")


def test_pass_at_k_c_gt_n_yields_null(spark):
    """pass@k on a malformed eval row (c > n): the documented NULL
    emission — visible corruption, no silent clamp, no raise."""
    from hdk_spark.operators.stats import pass_at_k

    df = spark.createDataFrame(
        [("ok", 10, 3), ("bad", 5, 9)], ["problem_id", "n", "c"]
    )
    rows = {r["problem_id"]: r for r in pass_at_k(df, "n", "c", ks=(1, 5)).collect()}
    assert rows["bad"]["pass_at_1"] is None
    assert rows["bad"]["pass_at_5"] is None
    assert rows["ok"]["pass_at_1"] is not None


def test_ks_auc_quantize_grid(spark):
    """The enforceable support-bound discipline (quantize=<decimal
    places>): on a column ALREADY at that resolution the result is
    bit-for-bit the unquantized one (defensive enablement is free);
    on a continuous column the support provably collapses to the grid
    and ties get correct midrank treatment."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.stats import auc_score, ks_test

    # already-quantized column: 1-decimal values
    df = spark.range(2_000).select(
        (F.col("id") % 2).alias("grp"),
        F.round((F.col("id") % 7).cast("double") / 10.0
                + (F.col("id") % 2).cast("double") / 10.0, 1).alias("v"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    base_ks = ks_test(df, "grp", "v", 0, 1).collect()[0]
    quant_ks = ks_test(df, "grp", "v", 0, 1, quantize=1).collect()[0]
    assert base_ks == quant_ks
    base_auc = auc_score(df, "v", "y").collect()[0]
    quant_auc = auc_score(df, "v", "y", quantize=1).collect()[0]
    assert base_auc == quant_auc

    # continuous column: support collapses to the grid; KS/AUC match
    # computing on the explicitly rounded column
    cont = spark.range(5_000).select(
        (F.col("id") % 2).alias("grp"),
        (F.sin(F.col("id").cast("double"))
         + (F.col("id") % 2).cast("double") * 0.1).alias("v"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    rounded = cont.withColumn("v", F.round("v", 2))
    assert (ks_test(cont, "grp", "v", 0, 1, quantize=2).collect()
            == ks_test(rounded, "grp", "v", 0, 1).collect())
    assert (auc_score(cont, "v", "y", quantize=2).collect()
            == auc_score(rounded, "v", "y").collect())


def test_krippendorff_alpha_reference_equality(spark):
    """alpha == a pure-Python coincidence-matrix reference on (a) the
    classic Krippendorff textbook grid (4 raters, missing cells,
    varying pairable counts — the case fleiss_kappa abstains on),
    (b) perfect agreement -> 1, (c) systematic disagreement < 0,
    (d) single-label degenerate -> NULL (De = 0), (e) unpairable
    (1-rating) units excluded."""
    from collections import Counter

    from hdk_spark.operators.stats import fleiss_kappa, krippendorff_alpha

    def ref_alpha(rows):
        units = {}
        for u, c in rows:
            if c is not None:
                units.setdefault(u, []).append(c)
        units = {u: v for u, v in units.items() if len(v) >= 2}
        a = 0.0
        marg = Counter()
        for v in units.values():
            m = len(v)
            for c, k in Counter(v).items():
                # the operator's micro-quantization, replayed
                a += round(1e9 * k * (k - 1) / (m - 1)) / 1e9
                marg[c] += k
        n = sum(marg.values())
        de = n * n - sum(x * x for x in marg.values())
        if de <= 0:
            return None
        return round(1.0 - (n - a) * (n - 1) / de, 6) + 0

    # Krippendorff 2004's standard example: 4 coders, 12 units,
    # missing values; published nominal alpha ~= 0.743
    grid = {
        "A": [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
        "B": [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
        "C": [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
        "D": [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
    }
    rows = [(u, grid[r][u]) for r in grid for u in range(12)]
    df = spark.createDataFrame(
        [(u, c) for u, c in rows], "item: long, label: long"
    )
    got = krippendorff_alpha(df, "item", "label").collect()[0]
    want = ref_alpha(rows)
    assert got["alpha"] == want
    assert 0.70 < got["alpha"] < 0.78  # published value ≈ 0.743
    # varying m (unit 10 has 2 ratings, most have 4): Fleiss abstains,
    # alpha is defined — the reason the operator exists
    fk = fleiss_kappa(df, "item", "label").collect()[0]
    assert fk["kappa"] is None and not fk["m_constant"]
    assert got["n_units"] == 12 and got["n_pairable"] == 11

    perfect = spark.createDataFrame(
        [(u, "x" if u % 2 else "y") for u in range(20) for _ in range(3)],
        "item: long, label: string",
    )
    assert krippendorff_alpha(perfect, "item", "label").collect()[0][
        "alpha"] == 1.0

    # two raters always disagreeing with flipped marginals -> alpha < 0
    flip = spark.createDataFrame(
        [(u, r, "a" if (u + r) % 2 else "b")
         for u in range(10) for r in range(2)],
        "item: long, rater: long, label: string",
    )
    fa = krippendorff_alpha(flip, "item", "label").collect()[0]
    assert fa["alpha"] == ref_alpha(
        [(u, "a" if (u + r) % 2 else "b")
         for u in range(10) for r in range(2)]
    )
    assert fa["alpha"] < 0

    mono = spark.createDataFrame(
        [(u, "same") for u in range(5) for _ in range(2)],
        "item: long, label: string",
    )
    assert krippendorff_alpha(mono, "item", "label").collect()[0][
        "alpha"] is None

    # repartition determinism (quantized order-independent sums)
    again = krippendorff_alpha(df.repartition(7), "item", "label").collect()
    assert again[0] == got


def test_dds_quantile_relative_error_bound(spark):
    """The DDSketch guarantee (Masson, Rim & Lee 2019) under the
    binary-interpolated mapping: every quantile estimate is within
    relative 1/(2m) of the TRUE rank-⌊q·(n−1)⌋ order statistic, for
    positive, negative and zero values alike (zero answers exactly
    0.0). Checked at two m values over a heavy-tailed mixed-sign
    sample — the workload quantile sketches exist for."""
    import numpy as np

    from hdk_spark.operators.sketches import dds_build, dds_quantile

    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [rng.lognormal(6, 2.5, 4000), -rng.lognormal(3, 1.5, 800),
         np.zeros(137)]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "x: double")
    true = np.sort(vals)
    qs = [0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    for m in (16, 64):
        sk = dds_build(df, "x", m=m)
        got = dds_quantile(sk, qs, m=m).collect()
        assert [r["q"] for r in got] == qs
        for r in got:
            assert r["n"] == len(vals)
            tv = true[int(np.floor(r["q"] * (len(vals) - 1)))]
            if tv == 0.0:
                assert r["est"] == 0.0, (m, r["q"], r["est"])
            else:
                rel = abs(r["est"] - tv) / abs(tv)
                # 1/(2m) + rounding slack from the 6-decimal emit
                assert rel <= 1 / (2 * m) + 1e-6, (m, r["q"], r["est"], tv)


def test_dds_binade_boundaries_and_guards(spark):
    """Exact powers of two land in sub-bucket 0 of their OWN binade
    (2^b ≤ x < 2^(b+1) with the log2-seed correction — the boundary
    where raw libm ceil/floor(log2) is platform-unstable), and a
    value just under a power of two lands in the LAST sub-bucket of
    the binade below; ValueError guards on non-power-of-two m, empty
    qs, and out-of-range q."""
    import pytest

    from hdk_spark.operators.sketches import (
        dds_build,
        dds_merge,
        dds_quantile,
    )

    pows = [0.5, 1.0, 2.0, 32.0, 1024.0, 2.0 ** 40]
    below = 2.0 - 2.0 ** -40  # frac → 2−ε: last sub-bucket of b=0
    df = spark.createDataFrame(
        [(v,) for v in pows + [below]], "x: double")
    cells = {(r["b"], r["j"]): r["c"]
             for r in dds_build(df, "x", m=64).collect()}
    import math

    for v in pows:
        assert cells.get((int(math.log2(v)), 0), 0) >= 1, v
    assert (0, 63) in cells

    with pytest.raises(ValueError, match="power of two"):
        dds_build(df, "x", m=48)
    sk = dds_build(df, "x", m=64)
    with pytest.raises(ValueError, match="non-empty"):
        dds_quantile(sk, [], m=64)
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        dds_quantile(sk, [1.5], m=64)
    with pytest.raises(ValueError, match="at least one"):
        dds_merge()


def test_dds_merge_equals_build_bit_for_bit(spark):
    """DDSketch is FULLY mergeable: bucket counters are plain counts,
    so the merge of three slice sketches is cell-for-cell the sketch
    of the concatenation — the error bound never degrades with merge
    history (the property that lets 100 TB ingest keep one sketch per
    slice and answer global percentiles without any re-scan)."""
    import numpy as np

    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        dds_build,
        dds_merge,
        dds_quantile,
    )

    rng = np.random.default_rng(23)
    vals = np.concatenate([rng.lognormal(4, 2, 3000), -rng.gamma(2, 9, 500)])
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i: long, x: double")
    slices = [df.filter(F.col("i") % 3 == r) for r in range(3)]
    merged = dds_merge(*[dds_build(s, "x") for s in slices])
    whole = dds_build(df, "x")
    key = lambda rows: {(r["store"], r["b"], r["j"]): r["c"] for r in rows}
    assert key(merged.collect()) == key(whole.collect())
    qs = [0.05, 0.5, 0.95]
    assert (dds_quantile(merged, qs).collect()
            == dds_quantile(whole, qs).collect())


def test_kmv_merge_equals_build_and_idempotent(spark):
    """Bottom-k closure (Beyer et al. 2007): the k smallest distinct
    hashes of A ∪ B are all present in bottom-k(A) ∪ bottom-k(B), so
    kmv_merge of slice summaries equals kmv_summary of the union
    ROW-FOR-ROW — and overlapping slices are idempotent (it is a SET
    union). Both hash bases; k guards."""
    import pytest

    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_merge, kmv_summary

    src = spark.range(20_000).select(
        (F.col("id") % 3517).cast("string").alias("v"), F.col("id"))
    a, b = src.filter("id % 2 = 0"), src.filter("id % 2 = 1")
    for basis in ("xxhash64", "md5"):
        whole = kmv_summary(src, "v", k=64, hash_basis=basis).collect()
        merged = kmv_merge(
            kmv_summary(a, "v", k=64, hash_basis=basis),
            kmv_summary(b, "v", k=64, hash_basis=basis),
            k=64,
        ).collect()
        assert sorted(merged) == sorted(whole), basis
        over = kmv_merge(
            kmv_summary(src, "v", k=64, hash_basis=basis),
            kmv_summary(src.filter("id < 9999"), "v", k=64,
                        hash_basis=basis),
            k=64,
        ).collect()
        assert sorted(over) == sorted(whole), basis

    with pytest.raises(ValueError, match="k must be >= 2"):
        kmv_summary(src, "v", k=1)
    with pytest.raises(ValueError, match="at least one"):
        kmv_merge(k=8)


def test_kmv_ndv_exact_small_and_banded_large(spark):
    """kmv_ndv is EXACT below k (the summary IS the distinct set) and
    lands inside a 4σ band of the true cardinality above it (σ ≈
    1/√(k−2) for the (k−1)/u_k estimator — deterministic here, the
    band just pins the estimator is wired right, not luck)."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_ndv, kmv_summary

    small = spark.range(1000).select((F.col("id") % 37).cast("string")
                                     .alias("v"))
    row = kmv_ndv(kmv_summary(small, "v", k=256), k=256).collect()[0]
    assert (row["n_kept"], row["ndv_est"]) == (37, 37.0)

    big = spark.range(60_000).select((F.col("id") % 10_000).cast("string")
                                     .alias("v"))
    row = kmv_ndv(kmv_summary(big, "v", k=256), k=256).collect()[0]
    assert row["n_kept"] == 256
    assert abs(row["ndv_est"] - 10_000) / 10_000 < 4 / (254 ** 0.5)


def test_kmv_jaccard_extremes_and_band(spark):
    """Set-Jaccard from summaries alone: identical sets → exactly
    1.0, disjoint sets → exactly 0.0 (64-bit basis: no cross-set hash
    collisions at this size), and a planted 1/3 overlap lands within
    the ±4σ sampling band of k=256 — all without ever comparing the
    underlying sets."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_jaccard, kmv_summary

    ids = spark.range(3600)
    a = ids.filter("id < 2400").select(F.col("id").cast("string").alias("v"))
    b = ids.filter("id >= 1200").select(F.col("id").cast("string").alias("v"))
    dis = ids.select((F.col("id") + 900_000).cast("string").alias("v"))

    ka = kmv_summary(a, "v", k=256)
    row = kmv_jaccard(ka, kmv_summary(a, "v", k=256), k=256).collect()[0]
    assert row["jaccard_est"] == 1.0

    row = kmv_jaccard(ka, kmv_summary(dis, "v", k=256), k=256).collect()[0]
    assert row["jaccard_est"] == 0.0 and row["n_inter"] == 0

    row = kmv_jaccard(ka, kmv_summary(b, "v", k=256), k=256).collect()[0]
    sigma = (1 / 3 * 2 / 3 / 256) ** 0.5
    assert abs(row["jaccard_est"] - 1 / 3) < 4 * sigma


def test_dds_nonfinite_dropped_and_empty_stable(spark):
    """The DDSketch drop gate: NaN / ±Inf rows never reach a bucket
    (NaN would silently count as ZERO — it fails every sign
    comparison; ±Inf would floor an infinite log2 into a garbage
    binade), so a column with planted sensor glitches sketches
    identically to its clean subset; an EMPTY sketch keeps the
    (q, NULL est, n=0) row shape instead of NULL-ing n."""
    from hdk_spark.operators.sketches import dds_build, dds_quantile

    clean = [(1.5,), (-2.25,), (0.0,), (300.0,)]
    dirty = clean + [(float("nan"),), (float("inf"),), (float("-inf"),),
                     (None,)]
    key = lambda df: sorted(
        (r["store"], r["b"], r["j"], r["c"])
        for r in dds_build(df, "x", m=64).collect())
    assert key(spark.createDataFrame(dirty, "x: double")) == key(
        spark.createDataFrame(clean, "x: double"))

    empty = dds_build(
        spark.createDataFrame([], "x: double"), "x", m=64)
    rows = dds_quantile(empty, [0.5, 0.9], m=64).collect()
    assert [(r["q"], r["est"], r["n"]) for r in rows] == [
        (0.5, None, 0), (0.9, None, 0)]


def test_kmv_set_stats_exact_regime(spark):
    """kmv_set_stats in the exact regime (both true NDVs < k): every
    output equals the true set-algebra value — union/intersection
    NDV, per-side NDV, both containments (which differ on the planted
    asymmetric sets — the question Jaccard can't answer) and
    jaccard_est."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_set_stats, kmv_summary

    ids = spark.range(3000)
    a = ids.filter("id < 2400").select(F.col("id").cast("string").alias("v"))
    b = ids.filter("id >= 1200").select(F.col("id").cast("string").alias("v"))
    # |A|=2400, |B|=1800, inter=1200, union=3000
    row = kmv_set_stats(
        kmv_summary(a, "v", k=4096), kmv_summary(b, "v", k=4096),
        k=4096).collect()[0]
    assert (row["n_k"], row["n_inter"]) == (3000, 1200)
    assert row["ndv_union"] == 3000.0 and row["ndv_inter"] == 1200.0
    assert row["ndv_a"] == 2400.0 and row["ndv_b"] == 1800.0
    assert row["containment_a_in_b"] == 0.5
    assert row["containment_b_in_a"] == round(1200 / 1800, 4)
    assert row["jaccard_est"] == 0.4


def test_kmv_set_stats_estimation_band_and_edges(spark):
    """Estimation regime (true NDVs >> k): every estimate inside a 5σ
    band of the truth (σ ≈ 1/√(k−2) on NDVs, binomial on ρ — the
    bands pin wiring, not luck: the pipeline is deterministic).
    Edges: identical sets → containments exactly 1.0; disjoint sets →
    intersection 0 and containments 0.0; an EMPTY side → NULL
    containments (0-NDV division guarded), never a crash; k guard."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_set_stats, kmv_summary

    k, sig = 256, 1 / (254 ** 0.5)
    ids = spark.range(80_000)
    a = ids.filter("id < 48000").select(F.col("id").cast("string").alias("v"))
    b = ids.filter("id >= 24000").select(F.col("id").cast("string").alias("v"))
    # |A|=48k, |B|=56k, inter=24k, union=80k
    row = kmv_set_stats(kmv_summary(a, "v", k=k), kmv_summary(b, "v", k=k),
                        k=k).collect()[0]
    assert abs(row["ndv_union"] - 80_000) / 80_000 < 5 * sig
    assert abs(row["ndv_a"] - 48_000) / 48_000 < 5 * sig
    assert abs(row["ndv_b"] - 56_000) / 56_000 < 5 * sig
    rho_sig = (0.3 * 0.7 / k) ** 0.5  # true rho = 24k/80k
    assert abs(row["ndv_inter"] - 24_000) / 80_000 < 5 * (rho_sig + sig)
    assert abs(row["containment_a_in_b"] - 0.5) < 5 * (rho_sig + 2 * sig)
    assert abs(row["containment_b_in_a"] - 24 / 56) < 5 * (rho_sig + 2 * sig)

    sa = kmv_summary(a, "v", k=k)
    same = kmv_set_stats(sa, kmv_summary(a, "v", k=k), k=k).collect()[0]
    assert same["containment_a_in_b"] == 1.0
    assert same["containment_b_in_a"] == 1.0
    assert same["jaccard_est"] == 1.0

    dis = ids.select((F.col("id") + 5_000_000).cast("string").alias("v"))
    dj = kmv_set_stats(sa, kmv_summary(dis, "v", k=k), k=k).collect()[0]
    assert dj["n_inter"] == 0 and dj["ndv_inter"] == 0.0
    assert dj["containment_a_in_b"] == 0.0 and dj["containment_b_in_a"] == 0.0

    empty = kmv_summary(
        spark.createDataFrame([], "v: string"), "v", k=k)
    er = kmv_set_stats(sa, empty, k=k).collect()[0]
    assert er["ndv_b"] == 0.0 and er["n_inter"] == 0
    assert er["containment_b_in_a"] is None  # 0-NDV side: undefined
    assert er["containment_a_in_b"] == 0.0   # inter/ndv_a = 0/positive

    with pytest.raises(ValueError, match="k must"):
        kmv_set_stats(sa, sa, k=1)


def test_kmv_by_group_equals_per_group_summary(spark):
    """The defining law: each group's rows in kmv_by_group ARE the
    kmv_summary of that group's values (same hash, same bottom-k,
    collision rule included) — so the whole kmv_* consumer family
    (ndv, merge, jaccard, set_stats) applies per group unchanged.
    Checked row-for-row on groups of very different cardinalities,
    both hash bases; NULL values excluded, NULL GROUPS kept."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_by_group, kmv_summary

    df = spark.range(5000).select(
        F.when(F.col("id") % 10 == 9, None)
        .when(F.col("id") % 3 == 0, F.lit("big"))
        .when(F.col("id") % 3 == 1, F.lit("mid"))
        .otherwise(F.lit("tiny")).alias("g"),
        F.when(F.col("id") % 17 == 0, None)  # NULL values: excluded
        .otherwise(
            F.concat(F.lit("v"), (F.col("id") % F.when(
                F.col("id") % 3 == 0, 900).otherwise(
                F.when(F.col("id") % 3 == 1, 60).otherwise(7)))
                .cast("string"))).alias("v"),
    )
    for basis in ("xxhash64", "md5"):
        got = kmv_by_group(df, "g", "v", k=32, hash_basis=basis).collect()
        by_grp: dict = {}
        for r in got:
            by_grp.setdefault(r["grp"], []).append((r["h"], r["item"]))
        assert None in by_grp  # NULL group kept (SQL GROUP BY rule)
        for grp, rows in by_grp.items():
            cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
            want = [(r["h"], r["item"]) for r in kmv_summary(
                df.filter(cond), "v", k=32, hash_basis=basis).collect()]
            assert sorted(rows) == sorted(want), (basis, grp)
            assert len(rows) <= 32


def test_kmv_ndv_by_group_exact_and_banded(spark):
    """kmv_ndv_by_group: exact below k per group, banded estimate
    above it — groups in BOTH regimes in one relation, estimated
    independently (a huge group cannot bias a small one)."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_by_group, kmv_ndv_by_group

    k = 128
    df = spark.range(120_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("huge"))
        .otherwise(F.lit("small")).alias("g"),
        F.when(F.col("id") % 2 == 0,
               F.concat(F.lit("h"), (F.col("id") % 20_000).cast("string")))
        .otherwise(
            F.concat(F.lit("s"), (F.col("id") % 37).cast("string")))
        .alias("v"),
    )
    rows = {r["grp"]: r for r in kmv_ndv_by_group(
        kmv_by_group(df, "g", "v", k=k), k=k).collect()}
    assert rows["small"]["n_kept"] == 37
    assert rows["small"]["ndv_est"] == 37.0          # exact regime
    assert rows["huge"]["n_kept"] == k
    assert abs(rows["huge"]["ndv_est"] - 10_000) / 10_000 < 5 / (126 ** 0.5)

    import pytest

    with pytest.raises(ValueError, match="k must"):
        kmv_by_group(df, "g", "v", k=1)
    with pytest.raises(ValueError, match="k must"):
        kmv_ndv_by_group(kmv_by_group(df, "g", "v", k=4), k=1)


def test_kmv_merge_by_group_equals_union_build(spark):
    """Per-group merge law: kmv_merge_by_group(kmv_by_group(A),
    kmv_by_group(B)) == kmv_by_group(A ∪ B) row-for-row (bottom-k
    closure holds within each group), overlapping slices idempotent,
    and a group present in only ONE slice passes through intact."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import kmv_by_group, kmv_merge_by_group

    def mk(lo, hi, grps):
        return (spark.range(lo, hi).select(
            F.element_at(
                F.array(*[F.lit(g) for g in grps]),
                (F.col("id") % len(grps) + 1).cast("int")).alias("g"),
            F.concat(F.lit("v"), (F.col("id") % 700).cast("string"))
            .alias("v")))

    a = mk(0, 2000, ["web", "code"])          # no 'lang' in slice A
    b = mk(1500, 3500, ["web", "code", "lang"])  # overlaps A's rows

    kw = dict(k=64)
    key = lambda df: sorted((r["grp"], r["h"], r["item"])
                            for r in df.collect())
    merged = kmv_merge_by_group(
        kmv_by_group(a, "g", "v", **kw), kmv_by_group(b, "g", "v", **kw),
        k=64)
    union = kmv_by_group(a.unionByName(b), "g", "v", **kw)
    assert key(merged) == key(union)

    # idempotence: merging a slice with itself changes nothing
    sa = kmv_by_group(a, "g", "v", **kw)
    assert key(kmv_merge_by_group(sa, sa, k=64)) == key(sa)

    # single-slice group passes through: 'lang' rows == B's 'lang' rows
    lang_m = [(h, i) for (g, h, i) in key(merged) if g == "lang"]
    lang_b = [(r["h"], r["item"]) for r in kmv_by_group(
        b, "g", "v", **kw).filter("grp = 'lang'").collect()]
    assert lang_m == sorted(lang_b)

    import pytest

    with pytest.raises(ValueError, match="k must"):
        kmv_merge_by_group(sa, k=1)
    with pytest.raises(ValueError, match="at least one"):
        kmv_merge_by_group(k=64)


def test_dds_by_group_equals_per_group_build_and_merge(spark):
    """Per-group DDS laws: (a) each group's rows in dds_build_by_group
    == dds_build of that group's values cell-for-cell (so the error
    bound and drop gates carry per group); (b) dds_merge_by_group of
    parity slices == the single build bit-for-bit (linear counters per
    group, groups missing from one slice pass through); (c) NaN/±Inf
    rows change nothing; (d) NULL groups kept."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        dds_build, dds_build_by_group, dds_merge_by_group,
    )

    x = (
        F.when(F.col("id") % 13 == 7, F.lit(0.0))
        .when(F.col("id") % 11 == 3, -(F.col("id") % 97 + 1).cast("double"))
        .otherwise((F.col("id") % 97 + 1).cast("double") * 1.25)
    )
    g = (
        F.when(F.col("id") % 10 == 9, None)
        .when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
    )
    df = spark.range(4000).select(g.alias("g"), x.alias("x"))

    got = dds_build_by_group(df, "g", "x", m=64).collect()
    by_grp: dict = {}
    for r in got:
        by_grp.setdefault(r["grp"], []).append(
            (r["store"], r["b"], r["j"], r["c"]))
    assert None in by_grp  # NULL group kept
    for grp, rows in by_grp.items():
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        want = [(r["store"], r["b"], r["j"], r["c"]) for r in dds_build(
            df.filter(cond), "x", m=64).collect()]
        assert sorted(rows) == sorted(want), grp

    key = lambda rel: sorted(
        ((r["grp"] is None, r["grp"] or ""), r["store"], r["b"], r["j"],
         r["c"]) for r in rel.collect())
    # parity slices; 'b' rows only in the odd slice at id%4==1... both
    # slices hold both groups, so ALSO plant a group unique to one side
    extra = spark.createDataFrame([("only_even", 5.0)], "g: string, x: double")
    even = df.filter("id % 2 = 0").unionByName(extra)
    odd = df.filter("id % 2 = 1")
    merged = dds_merge_by_group(
        dds_build_by_group(even, "g", "x", m=64),
        dds_build_by_group(odd, "g", "x", m=64))
    single = dds_build_by_group(
        even.unionByName(odd), "g", "x", m=64)
    assert key(merged) == key(single)
    assert ((False, "only_even"), 1, 2, 16, 1) in key(merged)  # pass-through

    dirty = df.unionByName(spark.createDataFrame(
        [("a", float("nan")), ("b", float("inf")), ("a", None)],
        "g: string, x: double"))
    assert key(dds_build_by_group(dirty, "g", "x", m=64)) == key(
        dds_build_by_group(df, "g", "x", m=64))


def test_dds_quantile_by_group_matches_global_per_group(spark):
    """dds_quantile_by_group == running the GLOBAL dds_quantile on
    each group's sketch slice independently (same walk, same rank
    arithmetic, same midpoints) — at three stores, both groups, five
    quantiles; empty sketch → zero rows; guards."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        dds_build_by_group, dds_quantile, dds_quantile_by_group,
    )

    x = (
        F.when(F.col("id") % 17 == 5, F.lit(0.0))
        .when(F.col("id") % 7 == 3, -(F.col("id") % 53 + 2).cast("double"))
        .otherwise((F.col("id") % 211 + 1).cast("double") / 3.0)
    )
    g = (
        F.when(F.col("id") % 10 == 9, None)  # NULL group: kept, and its
        .when(F.col("id") % 3 == 0, F.lit("p"))  # quantiles must survive
        .otherwise(F.lit("q"))  # the operator's internal joins
    )
    df = spark.range(3000).select(g.alias("g"), x.alias("x"))
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]

    sk = dds_build_by_group(df, "g", "x", m=64)
    key = lambda t: ((t[0] is None, t[0] or ""),) + t[1:]
    got = sorted(
        ((r["grp"], r["q"], r["est"], r["n"])
         for r in dds_quantile_by_group(sk, qs, m=64).collect()), key=key)
    want = []
    for grp in ("p", "q", None):
        cond = (F.col("grp").isNull() if grp is None
                else (F.col("grp") == grp))
        for r in dds_quantile(
                sk.filter(cond).select("store", "b", "j", "c"),
                qs, m=64).collect():
            want.append((grp, r["q"], r["est"], r["n"]))
    assert got == sorted(want, key=key)

    empty = dds_build_by_group(
        spark.createDataFrame([], "g: string, x: double"), "g", "x", m=64)
    assert dds_quantile_by_group(empty, [0.5], m=64).count() == 0

    with pytest.raises(ValueError, match="power of two"):
        dds_quantile_by_group(sk, [0.5], m=63)
    with pytest.raises(ValueError, match="non-empty"):
        dds_quantile_by_group(sk, [], m=64)
    with pytest.raises(ValueError, match="quantiles"):
        dds_quantile_by_group(sk, [1.5], m=64)
    with pytest.raises(ValueError, match="power of two"):
        dds_build_by_group(df, "g", "x", m=0)


def test_mg_by_group_equals_per_group_global(spark):
    """Per-group MG laws, all reduced to 'grouped == the global
    operator run on each group's slice': (a) mg_summary_by_group rows
    per group == mg_summary of that group's values row-for-row (same
    item-hash sharding, counts, trim, accounting rows); (b)
    mg_merge_by_group per group == mg_merge of the groups' slice
    summaries; (c) mg_heavy_hitters_by_group per group ==
    mg_heavy_hitters on that group's summary with its own N; NULL
    groups kept; guards."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        mg_heavy_hitters, mg_heavy_hitters_by_group, mg_merge,
        mg_merge_by_group, mg_summary, mg_summary_by_group,
    )

    g = (
        F.when(F.col("id") % 10 == 9, None)
        .when(F.col("id") % 2 == 0, F.lit("web")).otherwise(F.lit("code"))
    )
    v = F.when(F.col("id") % 4 == 0, F.lit("hot")).otherwise(
        F.concat(F.lit("t"), (F.col("id") % 23).cast("string")))
    df = spark.range(2400).select(
        g.alias("g"), v.alias("v"), (F.col("id") % 2).alias("p"))
    kw = dict(k=4, n_shards=3, hash_basis="md5")

    def rows_of(rel, with_grp=True):
        cols = (lambda r: (r["shard"], r["item"], r["cnt"], r["n_shard"]))
        out: dict = {}
        for r in rel.collect():
            out.setdefault(r["grp"] if with_grp else None, []).append(
                cols(r))
        return {grp: sorted(rs, key=repr) for grp, rs in out.items()}

    summ = mg_summary_by_group(df, "g", "v", **kw)
    got = rows_of(summ)
    assert None in got  # NULL group kept
    for grp in got:
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        want = sorted(
            ((r["shard"], r["item"], r["cnt"], r["n_shard"])
             for r in mg_summary(df.filter(cond), "v", **kw).collect()),
            key=repr)
        assert got[grp] == want, grp

    sa = mg_summary_by_group(df.filter("p = 0"), "g", "v", **kw)
    sb = mg_summary_by_group(df.filter("p = 1"), "g", "v", **kw)
    merged = mg_merge_by_group(sa, sb, k=4)
    gm = rows_of(merged)
    for grp in gm:
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        want = sorted(
            ((r["shard"], r["item"], r["cnt"], r["n_shard"])
             for r in mg_merge(
                 mg_summary(df.filter(cond & (F.col("p") == 0)), "v", **kw),
                 mg_summary(df.filter(cond & (F.col("p") == 1)), "v", **kw),
                 k=4).collect()),
            key=repr)
        assert gm[grp] == want, grp

    hh = mg_heavy_hitters_by_group(summ, phi=0.2, k=4)
    gh: dict = {}
    for r in hh.collect():
        gh.setdefault(r["grp"], []).append(
            (r["item"], r["cnt_lower"], r["cnt_upper"], r["certain"]))
    for grp in got:
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        want = [(r["item"], r["cnt_lower"], r["cnt_upper"], r["certain"])
                for r in mg_heavy_hitters(
                    mg_summary(df.filter(cond), "v", **kw),
                    phi=0.2, k=4).collect()]
        assert sorted(gh.get(grp, []), key=repr) == sorted(want, key=repr), \
            grp
    assert any("hot" in {i for i, *_ in rs} for rs in gh.values())

    with pytest.raises(ValueError, match="k must"):
        mg_summary_by_group(df, "g", "v", k=0)
    with pytest.raises(ValueError, match="n_shards"):
        mg_summary_by_group(df, "g", "v", k=2, n_shards=0)
    with pytest.raises(ValueError, match="at least one"):
        mg_merge_by_group(k=4)
    with pytest.raises(ValueError, match="phi"):
        mg_heavy_hitters_by_group(summ, phi=0.0, k=4)


def test_kmv_pairwise_stats_equals_set_stats_per_pair(spark):
    """The defining law of the pair matrix: every (grp_a, grp_b) row
    of kmv_pairwise_stats is BIT-IDENTICAL to kmv_set_stats of the
    two groups' own summaries — same union bottom-k, same membership
    flags, same estimator expressions, same rounding. Groups span
    both regimes (below-k exact and estimator), include a disjoint
    pair (jaccard 0) and the NULL group (kept via the injective group
    key, ordered before every value group); pair orientation is
    grp_a < grp_b with NULL first."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        kmv_by_group, kmv_pairwise_stats, kmv_set_stats,
    )

    k = 32
    # four groups: big (estimator), mid (overlaps big), tiny
    # (disjoint from both), NULL (overlaps mid)
    df = spark.range(6000).select(
        F.when(F.col("id") % 10 == 9, None)
        .when(F.col("id") % 3 == 0, F.lit("big"))
        .when(F.col("id") % 3 == 1, F.lit("mid"))
        .otherwise(F.lit("tiny")).alias("g"),
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("v"), ((F.col("id") / 3).cast("long") % 900)
                        .cast("string")))
        .when(F.col("id") % 10 == 9,
              F.concat(F.lit("v"),
                       (F.lit(850) + (F.col("id") / 3).cast("long") % 100)
                       .cast("string")))
        .when(F.col("id") % 3 == 1,
              F.concat(F.lit("v"),
                       (F.lit(880) + (F.col("id") / 3).cast("long") % 60)
                       .cast("string")))
        .otherwise(F.concat(F.lit("w"), ((F.col("id") / 3).cast("long") % 7)
                            .cast("string"))).alias("v"),
    )
    for basis in ("xxhash64", "md5"):
        summ = kmv_by_group(df, "g", "v", k=k, hash_basis=basis)
        got = kmv_pairwise_stats(summ, k=k, hash_basis=basis).collect()
        # 4 groups -> 6 unordered pairs, NULL ordered first
        assert len(got) == 6
        assert sum(1 for r in got if r["grp_a"] is None) == 3
        assert all(r["grp_b"] is not None for r in got)
        cols = got[0].asDict().keys()
        for r in got:
            ca = (F.col("g").isNull() if r["grp_a"] is None
                  else (F.col("g") == r["grp_a"]))
            cb = F.col("g") == r["grp_b"]
            want = kmv_set_stats(
                kmv_by_group(df.filter(ca), "g", "v", k=k,
                             hash_basis=basis).select("h", "item"),
                kmv_by_group(df.filter(cb), "g", "v", k=k,
                             hash_basis=basis).select("h", "item"),
                k=k, hash_basis=basis).collect()[0]
            for c in cols:
                if c in ("grp_a", "grp_b"):
                    continue
                assert r[c] == want[c], (basis, r["grp_a"], r["grp_b"], c)
        # the disjoint pair really is disjoint
        tiny = [r for r in got if r["grp_b"] == "tiny"
                or r["grp_a"] == "tiny"]
        assert tiny and all(r["jaccard_est"] == 0.0 for r in tiny)

    with pytest.raises(ValueError, match="k must"):
        kmv_pairwise_stats(summ, k=1)


def test_cms_by_group_defining_laws(spark):
    """Per-group CMS laws in one planted relation: (a) each group's
    cells ARE cms_build of that group's values with grp attached
    (row-for-row, both hash bases), NULL group included (kept per SQL
    GROUP BY); (b) parity-slice merge == single build bit-for-bit;
    (c) cms_query_by_group == cms_query run on each group's own
    sketch, for every (group, probe) pair — never under the group's
    true count, and a probe absent from a group estimates from that
    GROUP's cells only (cross-group counts never bleed in when the
    estimate is 0)."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.sketches import (
        cms_build, cms_build_by_group, cms_merge_by_group, cms_query,
        cms_query_by_group,
    )

    kw = dict(depth=3, width=64, seed=11, hash_basis="md5")
    df = spark.range(4000).select(
        F.when(F.col("id") % 7 == 6, None)
        .when(F.col("id") % 2 == 0, F.lit("web"))
        .otherwise(F.lit("code")).alias("g"),
        F.when(F.col("id") % 13 == 0, None)  # NULL values excluded
        .when(F.col("id") % 2 == 0,
              F.concat(F.lit("w"), (F.col("id") % 50).cast("string")))
        .otherwise(
            F.concat(F.lit("c"), (F.col("id") % 21).cast("string")))
        .alias("v"),
    )
    sk = cms_build_by_group(df, "g", "v", **kw)
    cells = sk.collect()
    groups = {r["grp"] for r in cells}
    assert groups == {"web", "code", None}
    for grp in groups:
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        want = sorted(map(tuple, cms_build(
            df.filter(cond), "v", **kw).collect()))
        got = sorted((r["r"], r["b"], r["c"])
                     for r in cells if r["grp"] == grp)
        assert got == want, grp

    s0 = cms_build_by_group(df.filter(F.col("id") % 3 != 0), "g", "v", **kw)
    s1 = cms_build_by_group(df.filter(F.col("id") % 3 == 0), "g", "v", **kw)
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, cms_merge_by_group(s0, s1).collect()),
                  key=key) == sorted(map(tuple, sk.collect()), key=key)

    probes = ["w0", "w17", "c5", "absent"]
    est = {(r["grp"], r["item"]): r["est"]
           for r in cms_query_by_group(sk, probes, **kw).collect()}
    assert len(est) == 3 * len(probes)  # every group x every probe
    truth = {(r["g"], r["v"]): r["n"] for r in df.groupBy("g", "v")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    for grp in groups:
        cond = F.col("g").isNull() if grp is None else (F.col("g") == grp)
        own = {r["item"]: r["est"] for r in cms_query(
            cms_build(df.filter(cond), "v", **kw), probes, **kw).collect()}
        for p in probes:
            assert est[(grp, p)] == own[p], (grp, p)
            assert est[(grp, p)] >= truth.get((grp, p), 0), (grp, p)
    # 'w*' probes in the code group estimate from code cells only:
    # exact-0 whenever no code value collides into all three cells
    assert est[("code", "absent")] < est[("web", "w0")]

    # DataFrame-probe path (VERDICT r13 #5): a probe relation too
    # large to ship as literals must answer bit-identically to the
    # literal path — same cell arithmetic, only the probe source
    # differs. Duplicates and NULL probes in the relation are
    # dropped, and the probe column is taken positionally (first).
    # a dotted first-column name must resolve positionally, not as a
    # struct-field path (r14 review)
    probe_df = spark.createDataFrame(
        [(p,) for p in probes] + [(probes[0],), (None,)], ["probe.tok"])
    est_df = {(r["grp"], r["item"]): r["est"]
              for r in cms_query_by_group(sk, probe_df, **kw).collect()}
    assert est_df == est
    # an empty (or all-NULL) probe relation fails as loudly as the
    # empty literal list — never a silently empty answer (r14 review)
    for bad in (probe_df.limit(0),
                spark.createDataFrame([(None,)], "tok: string")):
        with pytest.raises(ValueError, match="non-empty"):
            cms_query_by_group(sk, bad, **kw)

    with pytest.raises(ValueError, match="depth/width"):
        cms_build_by_group(df, "g", "v", depth=0)
    with pytest.raises(ValueError, match="at least one"):
        cms_merge_by_group()
    with pytest.raises(ValueError, match="non-empty"):
        cms_query_by_group(sk, [])


def test_release_caches_frees_internal_persists(spark):
    """ADVICE r12 / r13 self-review: the query operators with lazy
    returns persist INTERNAL derived projections that
    ``input.unpersist()`` can never release (Dataset.unpersist is
    non-cascading and matches only the exact cached plan).
    release_caches(result) is the working remedy: it unpersists the
    relations the operator attached to its returned frame. Pinned
    here for kmv_set_stats (two inputs), kmv_pairwise_stats,
    mg_heavy_hitters_by_group and dds_quantile_by_group, and (ADVICE
    r13) for the GLOBAL trio that had the same leak — mg_merge's
    tagged union, mg_heavy_hitters' summary, dds_quantile's sketch —
    for ann_lsh_topk's bucket relation in both modes, and for every
    other lazily returning operator that caches a relation its plan
    reads (the text LMs, the bucketed similarity and dedup operators,
    materialize_chunks; crawl_curate in tests/test_crawl.py):
    the attached frames' storage level actually clears, a second call
    is a no-op, and a plain DataFrame returns 0. minhash_lsh_dedup
    caches nothing. After the last release the cache manager is
    empty: no operator here leaves a cache its result does not
    carry."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.dedup import (
        embedding_neardup_pairs, minhash_lsh_dedup, semantic_dedup,
    )
    from hdk_spark.operators.packing import materialize_chunks
    from hdk_spark.operators.similarity import (
        ann_ivf_topk, ann_lsh_topk, ann_multiprobe_topk, bitext_mine,
        mine_contrastive_pairs,
    )
    from hdk_spark.operators.text import (
        bigram_logprob, ccnet_buckets, kneser_ney_logprob,
        source_kl_divergence, trigram_logprob, unigram_logprob,
    )
    from hdk_spark.operators.sketches import (
        dds_build, dds_build_by_group, dds_quantile,
        dds_quantile_by_group, frequent_items, kmv_by_group, kmv_jaccard,
        kmv_pairwise_stats, kmv_set_stats, kmv_summary,
        mg_heavy_hitters, mg_heavy_hitters_by_group, mg_merge,
        mg_merge_by_group, mg_summary, mg_summary_by_group,
        release_caches,
    )

    spark.catalog.clearCache()
    df = spark.range(800).select(
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
        .alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 37).cast("string")).alias("v"),
        (F.col("id") % 97).cast("double").alias("x"),
    )

    def spin(result_df, expect):
        result_df.collect()  # materialize (and the internal caches)
        caches = list(getattr(result_df, "_hdk_caches", ()))
        assert len(caches) == expect
        assert all(c.storageLevel.useMemory or c.storageLevel.useDisk
                   for c in caches)
        assert release_caches(result_df) == expect
        assert all(not (c.storageLevel.useMemory or c.storageLevel.useDisk)
                   for c in caches)
        assert release_caches(result_df) == 0  # idempotent

    sa = kmv_summary(df.filter("g = 'a'"), "v", k=16)
    sb = kmv_summary(df.filter("g = 'b'"), "v", k=16)
    spin(kmv_set_stats(sa, sb, k=16), 2)
    spin(kmv_jaccard(sa, sb, k=16), 2)
    spin(kmv_pairwise_stats(kmv_by_group(df, "g", "v", k=16), k=16), 1)
    summ = mg_summary_by_group(df, "g", "v", k=4, n_shards=2)
    spin(mg_heavy_hitters_by_group(summ, phi=0.2, k=4), 1)
    spin(mg_merge_by_group(summ, summ, k=4), 1)
    spin(dds_quantile_by_group(
        dds_build_by_group(df, "g", "x", m=16), [0.5], m=16), 1)
    gsumm = mg_summary(df, "v", k=4, n_shards=2)
    spin(mg_merge(gsumm, gsumm, k=4), 1)
    spin(frequent_items(df, "v", k=4), 1)
    docs = spark.range(60).selectExpr(
        "id AS doc_id", "concat('doc text ', CAST(id % 7 AS STRING)) AS text")
    spin(minhash_lsh_dedup(docs, hash_basis="md5"), 0)
    spin(unigram_logprob(docs), 1)
    spin(bigram_logprob(docs), 1)
    spin(trigram_logprob(docs), 1)
    spin(kneser_ney_logprob(docs), 2)
    spin(source_kl_divergence(
        docs.selectExpr("*", "CAST(doc_id % 3 AS STRING) AS source")), 1)
    spin(ccnet_buckets(docs), 1)
    spin(ccnet_buckets(docs, model="kn3"), 2)
    spin(materialize_chunks(spark.range(20).selectExpr(
        "id AS doc_id", "sequence(0, CAST(id % 5 AS INT)) AS tokens"),
        budget=8, n_shards=2), 1)
    vecs = spark.range(40).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 7), i -> CAST(sin(id * 7 + i) AS FLOAT))"
        " AS embedding")
    spin(ann_lsh_topk(vecs, [0, 1], k=3, dim=8), 1)
    spin(ann_lsh_topk(vecs, [0, 1], k=3, dim=8, deterministic=True), 1)
    spin(ann_ivf_topk(vecs, [0, 1], k=3, n_lists=4, nprobe=2, dim=8), 1)
    spin(ann_multiprobe_topk(vecs, [0, 1], k=3, n_planes=4, dim=8), 1)
    spin(ann_multiprobe_topk(
        vecs, [0, 1], k=3, n_planes=4, dim=8, deterministic=False), 1)
    spin(bitext_mine(vecs.filter("vec_id % 2 = 0"),
                     vecs.filter("vec_id % 2 = 1"),
                     k=2, threshold=0.0, n_planes=4, n_probes=2, dim=8), 1)
    spin(embedding_neardup_pairs(vecs, threshold=0.2, n_planes=2,
                                 n_tables=2, dim=8), 1)
    spin(mine_contrastive_pairs(vecs, pos_threshold=0.5, neg_lo=-1.0,
                                neg_hi=0.5, n_planes=2, n_tables=2,
                                dim=8), 1)
    spin(mine_contrastive_pairs(vecs, pos_threshold=0.5, neg_lo=-1.0,
                                neg_hi=0.5, n_planes=2, n_tables=2,
                                dim=8, anchor_pct=50), 1)
    spin(semantic_dedup(vecs, k=2, iters=1, threshold=0.9), 1)
    # ownership (r14 review): mg_summary returns a PERSISTED frame the
    # caller owns — a caller-cached input is REUSED, nothing is
    # attached (release_caches returns 0), and the caller's cache
    # survives the release call
    spin(mg_heavy_hitters(gsumm, phi=0.2, k=4), 0)
    assert (gsumm.storageLevel.useMemory or gsumm.storageLevel.useDisk)
    gsk = dds_build(df, "x", m=16).persist()
    gsk.count()
    spin(dds_quantile(gsk, [0.5], m=16), 0)
    assert (gsk.storageLevel.useMemory or gsk.storageLevel.useDisk)
    gsk.unpersist()
    # ...and an UNCACHED input gets the operator's own releasable cache
    gsumm.unpersist()
    spin(mg_heavy_hitters(gsumm, phi=0.2, k=4), 1)
    spin(dds_quantile(dds_build(df, "x", m=16), [0.5], m=16), 1)
    # refcount (r14 review, 2nd pass): two results of the SAME operator
    # call share ONE plan-keyed cache entry; releasing one result must
    # not drop the cache the other still reads, and the entry stays
    # releasable through the LAST result. Without the registry the
    # second call would see 'already cached', attach nothing, and the
    # unreleasable-leak class would be back for repeat calls.
    r1 = mg_heavy_hitters(gsumm, phi=0.2, k=4)
    r2 = mg_heavy_hitters(gsumm, phi=0.2, k=4)
    shared = r1._hdk_caches[0]
    assert shared is r2._hdk_caches[0]  # one registry frame, refcount 2
    r1.collect()
    assert release_caches(r1) == 0  # reference dropped, cache retained
    assert shared.storageLevel.useMemory or shared.storageLevel.useDisk
    r2.collect()  # still materializes off the shared cache
    assert release_caches(r2) == 1  # last reference frees it
    assert not (shared.storageLevel.useMemory or shared.storageLevel.useDisk)
    summ.unpersist()

    assert release_caches(df) == 0  # plain frames carry no caches
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_persist_internal_registry_session_scoping(spark):
    # registry lifetime + scoping (r14 review, 3rd pass): entries hold
    # WEAK references (the strong refs live in results' _hdk_caches),
    # so abandoned entries are pruned once their results are GC'd; an
    # entry whose session died is skipped (unusable — never shared);
    # an entry from a DIFFERENT LIVE session (or a hash collision) is
    # kept but never shared — handing back a frame bound to another
    # session would be wrong.
    import weakref

    from hdk_spark.operators import caches as ca

    proj = spark.range(10).selectExpr("cast(id as string) as v").select("v")
    key = proj.semanticHash()

    class _DeadFrame:
        # worst-case mock: every access raises. (A REAL stopped-session
        # frame still answers storageLevel/semanticHash — measured on
        # Spark 4.1.2 — and is excluded by the session-IDENTITY check
        # instead; this mock additionally pins that even a frame whose
        # every access raises cannot break the lookup.)
        def __getattr__(self, name):
            raise RuntimeError("session stopped")

    dead = _DeadFrame()
    ca._CACHE_REGISTRY[key] = [
        [lambda: None, 7],  # GC'd entry: all its results were dropped
        [lambda: dead, 3],  # dead-session entry, still referenced
    ]
    got, own = ca._persist_internal(proj)
    try:
        ents = ca._CACHE_REGISTRY[key]
        assert own == (got,)  # fresh registration — neither orphan shared
        assert not any(e[0]() is None for e in ents)  # GC'd pruned
        assert any(e[0]() is dead for e in ents)  # referenced one kept
        assert isinstance(ents[-1][0], weakref.ref)  # ours is weak

        # live foreign-session frame under the same key: kept, unshared
        # (inserted FIRST so the lookup actually walks past it)
        p2 = (spark.newSession().range(10)
              .selectExpr("cast(id as string) as v").select("v"))
        ents.insert(0, [lambda: p2, 1])
        got2, own2 = ca._persist_internal(proj)
        assert got2 is got and own2 == (got,)  # shared with OUR entry
        assert any(e[0]() is p2 for e in ca._CACHE_REGISTRY[key])  # kept
    finally:
        ca._CACHE_REGISTRY.get(key, [[None]])[:] = [
            e for e in ca._CACHE_REGISTRY.get(key, [])
            if e[0]() is got]
        rel = ca.release_caches(ca._attach_caches(got.limit(0), own))
        ca.release_caches(ca._attach_caches(got.limit(0), own))  # rc 2
    assert rel == 0  # two references (the repeat call) — first is a decrement
    assert key not in ca._CACHE_REGISTRY
    assert not (got.storageLevel.useMemory or got.storageLevel.useDisk)


def test_release_caches_concurrent_single_decrement(spark):
    # the release race (r14 review, 3rd pass): the attached-list
    # read-and-clear is atomic under the registry lock, so N threads
    # releasing the SAME result frame decrement its reference once
    # total — and releasing two sibling results from many threads
    # frees the shared entry exactly once, never while a sibling's
    # reference is still live
    import threading as th

    from hdk_spark.operators import caches as ca
    from hdk_spark.operators import sketches as sk

    df = spark.range(200).selectExpr(
        "'g' as g", "cast(id % 7 as string) as v")
    summ = sk.mg_summary(df, "v", k=4, n_shards=2)
    summ.unpersist()  # uncached input → operator-owned registration
    r1 = sk.mg_heavy_hitters(summ, phi=0.2, k=4)
    r2 = sk.mg_heavy_hitters(summ, phi=0.2, k=4)
    shared = r1._hdk_caches[0]
    assert shared is r2._hdk_caches[0]
    r1.collect()

    results: list[int] = []
    barrier = th.Barrier(8)

    def release(frame):
        barrier.wait()
        results.append(ca.release_caches(frame))

    threads = [th.Thread(target=release, args=(r1,)) for _ in range(4)]
    threads += [th.Thread(target=release, args=(r2,)) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # 2 references total: exactly one thread observed the final free;
    # every other call (repeat or sibling-decrement) returned 0
    assert sorted(results) == [0] * 7 + [1]
    assert not (shared.storageLevel.useMemory or shared.storageLevel.useDisk)
    assert shared.semanticHash() not in ca._CACHE_REGISTRY


def test_persist_internal_registry_is_weak(spark):
    # dropping every result of an operator call (no release_caches)
    # must let the registry entry die with them — the registry never
    # pins frames for the process lifetime (r14 review, 3rd pass)
    import gc
    import weakref

    from hdk_spark.operators import caches as ca

    def make():  # no test-local handle: persist() returns self, so
        # holding the input would itself pin the registered frame
        return (spark.range(10)
                .selectExpr("cast(id as string) as vv").select("vv"))

    key = make().semanticHash()
    got, own = ca._persist_internal(make())
    assert any(e[0]() is got for e in ca._CACHE_REGISTRY[key])
    ref = weakref.ref(got)
    cached_plan = got  # keep one handle to unpersist the JVM entry
    del got, own
    gc.collect()
    # the only strong ref left is ours; registry alone must not pin it
    assert ref() is cached_plan
    del cached_plan
    gc.collect()
    assert ref() is None  # registry held only a weak reference
    # the dead entry is pruned on the next same-key pass, and the
    # orphaned JVM cache (plan-keyed, still live) is REUSED as if
    # caller-owned — never duplicated, never clobbered: the bounded
    # steady state for callers that skip the release discipline
    got2, own2 = ca._persist_internal(make())
    assert own2 == ()  # reused, unowned — release has nothing to do
    assert key not in ca._CACHE_REGISTRY
    assert got2.storageLevel.useMemory or got2.storageLevel.useDisk
    got2.unpersist()  # test hygiene: drop the orphan explicitly
