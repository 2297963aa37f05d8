"""Curation operator semantics: split stability, quota, packing, containment."""

from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.curation import (
    containment_pairs,
    hash_split,
    pack_by_token_budget,
    quota_per_group,
)
from udacity_dend_capstone_immigration_spark.operators.dedup import shingle_rows


def test_hash_split_is_deterministic_and_partitioned(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert a == b  # rerun-stable (the property randomSplit lacks)
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.75 <= frac_train <= 0.85
    assert set(a.values()) == {"train", "valid", "test"}


def test_hash_split_stable_under_append(spark):
    """A doc's split never changes when the corpus grows."""
    small = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(small, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(big, "doc_id").collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_split_salt_changes_assignment(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", salt="s1").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", salt="s2").collect()}
    assert a != b


def test_quota_per_group_caps_and_orders(spark):
    rows = [(i, f"src{i % 2}", i * 10) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    out = quota_per_group(df, "source", [F.col("score").desc(), F.col("doc_id")], 2)
    got = {(r["source"], r["rn"]): r["doc_id"] for r in out.collect()}
    # per source: the two highest scores, rank 1 = highest
    assert got == {("src0", 1): 8, ("src0", 2): 6, ("src1", 1): 9, ("src1", 2): 7}


def test_pack_by_token_budget_boundaries(spark):
    rows = [(1, "s", 900), (2, "s", 900), (3, "s", 900), (4, "s", 2500), (5, "s", 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, toks long")
    out = {
        r["doc_id"]: r["pack_id"]
        for r in pack_by_token_budget(df, "source", "doc_id", "toks", 2000).collect()
    }
    # exclusive running sums: 0, 900, 1800, 2700, 5200 → packs 0,0,0,1,2
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_containment_is_asymmetric(spark):
    # bench doc fully inside a much larger corpus doc → containment 1.0
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "zero alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    b = shingle_rows(bench, "doc_id", "text", 3)
    c = shingle_rows(corpus, "doc_id", "text", 3)
    out = containment_pairs(b, c, 0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["bench_id"], r["corpus_id"]) == (0, 1)
    assert r["containment"] == 1.0
    # reversed direction: the big doc is NOT contained in the small one
    rev = containment_pairs(c, b, 0.5).collect()
    assert rev == []


def test_weighted_priority_sample_is_deterministic_and_weighted(spark):
    from udacity_dend_capstone_immigration_spark.operators.curation import (
        weighted_priority_sample,
    )

    rows = [(i, "g", 1 if i < 500 else 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")
    out = weighted_priority_sample(df, "grp", "doc_id", "w", k=50)
    ids = sorted(r["doc_id"] for r in out.collect())
    # deterministic across runs
    again = sorted(r["doc_id"] for r in weighted_priority_sample(df, "grp", "doc_id", "w", k=50).collect())
    assert ids == again
    assert len(ids) == 50
    # heavy-weight rows (100x) must dominate the sample
    heavy = sum(1 for i in ids if i >= 500)
    assert heavy >= 40


def test_weighted_priority_sample_respects_group_partitions(spark):
    from udacity_dend_capstone_immigration_spark.operators.curation import (
        weighted_priority_sample,
    )

    rows = [(i, "a" if i % 2 else "b", 1) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")
    out = weighted_priority_sample(df, "grp", "doc_id", "w", k=10).collect()
    per = {}
    for r in out:
        per.setdefault(r["grp"], 0)
        per[r["grp"]] += 1
    assert per == {"a": 10, "b": 10}


def test_weighted_priority_sample_rejects_nonpositive_weight(spark):
    """weight <= 0 must fail loudly at execution (r2 advice): 0 would
    silently never sample the row, a negative weight would always win."""
    import pytest as _pytest

    from udacity_dend_capstone_immigration_spark.operators.curation import (
        weighted_priority_sample,
    )

    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 2, 0.0)], "grp string, doc_id int, w double"
    )
    with _pytest.raises(Exception, match="weight > 0"):
        weighted_priority_sample(df, "grp", "doc_id", "w", k=1).collect()


def test_feature_store_append_latest_semantics(spark):
    """After an append, `latest` must show: active users advanced to the
    new cumulative state, inactive users untouched, first-day users
    bootstrapped — and the appended snapshot partition must equal the
    one-shot build's partition for that day."""
    import tempfile

    from udacity_dend_capstone_immigration_spark.workload.timeseries import (
        append_feature_day,
        build_feature_store,
        _fs_daily,
    )

    sf = "/root/testdata/sf0.001"
    days = sorted(r[0] for r in _fs_daily(spark, sf).select("d").distinct().collect())
    cutoff, day = str(days[-2]), str(days[-1])
    inc = tempfile.mkdtemp(prefix="fs_inc_")
    full = tempfile.mkdtemp(prefix="fs_full_")
    build_feature_store(spark, sf, store_dir=inc, cutoff=cutoff)
    append_feature_day(spark, inc, sf, day)
    build_feature_store(spark, sf, store_dir=full)

    def state(root, sub):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{root}/{sub}")
                .select("user_id", "clicks_cum", "views_cum", "vs_cum_dec"
                        if sub == "latest" else "vsum_cum")
                .collect(),
            )
        )

    assert state(inc, "latest") == state(full, "latest")
    assert state(inc, f"snapshots/feature_date={day}") == state(
        full, f"snapshots/feature_date={day}"
    )


def test_kfold_cluster_safe_stage_gate(spark):
    """r15 stage-gate (query staged r14, window full): the cluster-safe
    k-fold report matches its DuckDB oracle value-for-value at sf0.001,
    folds are cluster-atomic (crossing_pairs == 0 recomputed by BOTH
    engines), and every doc lands in exactly one fold."""
    import duckdb

    from udacity_dend_capstone_immigration_spark.workload import ORACLES
    from udacity_dend_capstone_immigration_spark.workload.curation import (
        _KFOLD_CLUSTER_SAFE_ORACLE,
        corpus_kfold_cluster_safe,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(tuple, corpus_kfold_cluster_safe(spark, sf).collect())
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    sql = _KFOLD_CLUSTER_SAFE_ORACLE.replace(
        "{MINHASH}", ORACLES["dedup_minhash_lsh"]
    )
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want
    assert all(r[4] == 0 for r in got)  # crossing_pairs zero everywhere
    n_docs = sum(r[2] for r in got)
    assert n_docs == spark.read.parquet(f"{sf}/documents.parquet").count()


def test_chunk_documents_boundaries_and_coverage(spark):
    """Window arithmetic edges: doc shorter than one window -> exactly
    1 chunk; exact stride multiples -> no redundant tail; every token
    covered; empty/whitespace docs -> no chunk; hashes match a direct
    recomputation of each window."""
    import hashlib

    from udacity_dend_capstone_immigration_spark.operators.curation import (
        chunk_documents,
    )

    size, stride = 8, 5
    docs = [
        (1, " ".join(f"t{i}" for i in range(3))),     # < size -> 1 chunk
        (2, " ".join(f"t{i}" for i in range(8))),     # == size -> 1 chunk
        (3, " ".join(f"t{i}" for i in range(13))),    # size+stride -> 2, tail full
        (4, " ".join(f"t{i}" for i in range(14))),    # 2 chunks, tail short? no: [0,8),[5,13) covers 13 of 14 -> needs 3rd? ceil((14-8)/5)+1 = 3
        (5, ""),                                      # empty -> none
        (6, "   ,,, !!!"),                            # normalizes empty -> none
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", size=size, stride=stride)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    per_doc = {}
    for (d, k) in rows:
        per_doc.setdefault(d, set()).add(k)
    assert per_doc == {1: {0}, 2: {0}, 3: {0, 1}, 4: {0, 1, 2}}
    # every token covered, offsets/lengths exact, hash = md5 of window
    for (d, text) in docs:
        toks = text.split()
        toks = [t for t in toks if t]  # matches tokenize on these inputs
        if d in (5, 6):
            continue
        covered = set()
        for k in sorted(per_doc[d]):
            r = rows[(d, k)]
            win = toks[k * stride : k * stride + size]
            assert r["start_tok"] == k * stride
            assert r["n_tokens"] == len(win)
            assert r["chunk_hash"] == hashlib.md5(" ".join(win).encode()).hexdigest()
            covered.update(range(k * stride, k * stride + len(win)))
        assert covered == set(range(len(toks))), f"doc {d} has uncovered tokens"


def test_chunk_grid_exhaustive_vs_reference(spark):
    """Exhaustive window-grid check: for every token count 0..40 and a
    spread of (size, stride) configs (shorter-than-window, exact
    multiples, overlap, stride==size, stride 1), chunk_documents must
    equal a direct Python reference — every boundary, every tail, and
    the no-fully-redundant-tail rule. One Spark job per config."""
    import hashlib

    from udacity_dend_capstone_immigration_spark.operators.curation import (
        chunk_documents,
    )

    def reference(toks, size, stride):
        if not toks:
            return {}
        nt = len(toks)
        n_chunks = 1 if nt <= size else -(-(nt - size) // stride) + 1
        out = {}
        for k in range(n_chunks):
            win = toks[k * stride : k * stride + size]
            out[k] = (
                k * stride,
                len(win),
                hashlib.md5(" ".join(win).encode()).hexdigest(),
            )
        return out

    docs = [
        (n, " ".join(f"t{i}" for i in range(n))) for n in range(0, 41)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for size, stride in [(8, 5), (6, 6), (5, 3), (4, 1), (64, 48), (3, 2)]:
        rows = chunk_documents(
            df, "doc_id", "text", size=size, stride=stride
        ).collect()
        got = {}
        for r in rows:
            got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = (
                r["start_tok"],
                r["n_tokens"],
                r["chunk_hash"],
            )
        for n, text in docs:
            want = reference(text.split() if text else [], size, stride)
            assert got.get(n, {}) == want, (size, stride, n)
            # coverage + no-redundant-tail invariants from the reference
            if want:
                covered = set()
                for k, (st, ln, _h) in want.items():
                    covered.update(range(st, st + ln))
                assert covered == set(range(n))
                last = max(want)
                if last > 0:
                    # the final window adds at least one NEW token
                    prev_end = (last - 1) * stride + min(size, n - (last - 1) * stride)
                    assert last * stride + want[last][1] > prev_end


def test_chunk_novelty_funnel_gate(spark):
    """r16 composition gate: the chunk-novelty funnel matches its
    (spliced) DuckDB oracle value-for-value at sf0.001, the novelty
    stage nests inside the cascade (pass_novel <= pass_all <= ... <=
    n_docs), and it actually discriminates — the testdata's near-dup
    twins sit AT ratio 0.5, so pass_novel < pass_all overall."""
    import duckdb

    from udacity_dend_capstone_immigration_spark.workload import ORACLES
    from udacity_dend_capstone_immigration_spark.workload.curation import (
        quality_funnel_chunk_novelty,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, quality_funnel_chunk_novelty(spark, sf).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(
        map(tuple, con.sql(ORACLES["quality_funnel_chunk_novelty"]).fetchall())
    )
    assert got == want
    for r in got:
        assert r[1] >= r[2] >= r[3] >= r[4] >= r[5] >= 0
    assert sum(r[5] for r in got) < sum(r[4] for r in got)
