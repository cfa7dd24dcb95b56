"""Scale-safe analyze operators vs naive in-memory references.

The distributed kernels (range partition + per-task NumPy + O(P)
driver boundary merge) must be bit-identical to a straightforward
single-array computation on the same data."""

import gc
import os
import time

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from rle_spark import analyze
from rle_spark.codecs.base import find_runs


def n_range_tasks(df) -> int:
    """How many range tasks the analyze kernels split `df` into."""
    return (analyze._arranged(df, [], ["pos"]).df
            .select("pid").distinct().count())


def persistent_rdds(spark) -> int:
    """How many RDDs Spark holds persisted (checkpoints included)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all(spark, target: int) -> int:
    """clear_run_cache(), then free what is unreachable in Python and
    the JVM, polling until Spark holds at most `target` persisted RDDs
    or 10 s pass; returns the count seen last. py4j tells the JVM about
    dropped objects from a background thread, so each JVM GC waits for
    that queue to drain: measured on Spark 4.1 with py4j 0.10.9.9, a GC
    that ran before it drained left the memo's checkpoints held through
    every later GC until other jobs ran."""
    analyze.clear_run_cache()
    releases = getattr(spark.sparkContext._gateway._gateway_client,
                       "finalizer_deque", ())
    deadline = time.monotonic() + 10
    while True:
        gc.collect()
        while releases and time.monotonic() < deadline:
            time.sleep(0.05)
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.25)
        held = persistent_rdds(spark)
        if held <= target or time.monotonic() > deadline:
            return held


@pytest.fixture
def many_tasks(spark):
    """The session with AQE coalescing off and 48 shuffle partitions,
    restored after: with coalescing on, AQE merges the small range
    shuffles of these tests' inputs into ONE task, so no run would
    cross a task edge."""
    conf = {"spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.shuffle.partitions": "48"}
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def seq_df(spark):
    """A char-per-row table with runs, spread over many partitions."""
    rng = np.random.default_rng(3)
    chars = np.repeat(
        np.array(list("ABCDEF"))[rng.integers(0, 6, 4000)],
        rng.integers(1, 9, 4000))
    pdf = pd.DataFrame({"pos": np.arange(len(chars)), "ch": chars})
    return spark.createDataFrame(pdf).repartition(8).cache(), chars


def test_partition_runs_matches_naive(spark, seq_df):
    df, chars = seq_df
    runs = analyze.partition_runs(df, "ch", ["pos"]).collect()
    starts, lens = find_runs(chars)
    want = {(int(s) + 1, chars[s], int(ln))
            for s, ln in zip(starts, lens)}
    got = {(r.start_rn, r.value, r.run_len) for r in runs}
    assert got == want


def _naive_width_hist(chars, w):
    m = len(chars) // w
    syms = np.array(["".join(chars[i * w:(i + 1) * w]) for i in range(m)])
    _, lens = find_runs(syms)
    bc = np.int64(np.floor(np.log2(lens)))
    vals, counts = np.unique(bc, return_counts=True)
    return {int(v): int(c) for v, c in zip(vals, counts)}


@pytest.mark.parametrize("w", [2, 3, 4])
def test_sym_width_run_histogram(spark, seq_df, w):
    df, chars = seq_df
    got = {r.bit_class: r.n_runs for r in
           analyze.sym_width_run_histogram(df, "ch", ["pos"], w).collect()}
    assert got == _naive_width_hist(chars, w)


def _naive_unaligned_hist(chars, stride):
    n = len(chars)
    eq = np.zeros(n, dtype=bool)
    eq[stride:] = chars[stride:] == chars[:-stride]
    starts, lens = find_runs(eq)
    lens = lens[eq[starts]]
    covered = lens + stride
    bc = np.int64(np.floor(np.log2(covered)))
    vals, counts = np.unique(bc, return_counts=True)
    return {int(v): int(c) for v, c in zip(vals, counts)}


@pytest.mark.parametrize("stride", [1, 2, 3])
def test_unaligned_run_histogram(spark, seq_df, stride):
    df, chars = seq_df
    got = {r.bit_class: r.n_runs for r in
           analyze.unaligned_run_histogram(df, "ch", ["pos"],
                                           stride).collect()}
    assert got == _naive_unaligned_hist(chars, stride)


def _naive_lru(chars, ks, min_run):
    starts, lens = find_runs(chars)
    vals = [chars[s] for s, ln in zip(starts, lens) if ln >= min_run]
    out = {}
    for k in ks:
        hits = sum(1 for i, v in enumerate(vals)
                   if v in vals[max(0, i - k):i])
        out[k] = (hits, len(vals))
    return out


def test_lru_recurrence_matches_naive(spark, seq_df):
    df, chars = seq_df
    ks = (1, 3, 7)
    got = {r.k: (r.n_hits, r.n_runs) for r in
           analyze.lru_recurrence(df, "ch", ["pos"], ks=ks,
                                  min_run=2).collect()}
    assert got == _naive_lru(chars, ks, 2)


def test_lru_recurrence_monotone_in_k(spark, seq_df):
    df, _ = seq_df
    rows = sorted(analyze.lru_recurrence(df, "ch", ["pos"]).collect(),
                  key=lambda r: r.k)
    hits = [r.n_hits for r in rows]
    assert hits == sorted(hits)  # bigger LUT window never loses hits


def _naive_run_stats(chars):
    starts, lens = find_runs(chars)
    out = {}
    for s, ln in zip(starts, lens):
        st = out.setdefault(chars[s], [0, 0, 0])
        st[0] += 1
        st[1] += int(ln)
        st[2] = max(st[2], int(ln))
    return {v: tuple(st) for v, st in out.items()}


def test_run_stats_matches_naive(spark, seq_df):
    df, chars = seq_df
    got = {r.value: (r.n_runs, r.total_len, r.max_run_len) for r in
           analyze.run_stats(df, "ch", ["pos"]).collect()}
    assert got == _naive_run_stats(chars)


def test_run_length_histogram_matches_naive(spark, seq_df):
    df, chars = seq_df
    _, lens = find_runs(chars)
    bc = np.int64(np.floor(np.log2(lens)))
    vals, counts = np.unique(bc, return_counts=True)
    want = {int(v): int(c) for v, c in zip(vals, counts)}
    got = {r.bit_class: r.n_runs for r in
           analyze.run_length_histogram(df, "ch", ["pos"]).collect()}
    assert got == want


@pytest.mark.parametrize("cap", [8, 64])
def test_exact_run_length_histogram_matches_naive(spark, seq_df, cap):
    df, chars = seq_df
    _, lens = find_runs(chars)
    lens = lens[lens <= cap]
    vals, counts = np.unique(lens, return_counts=True)
    want = {int(v): int(c) for v, c in zip(vals, counts)}
    got = {r.run_len: r.n_runs for r in
           analyze.exact_run_length_histogram(df, "ch", ["pos"],
                                              cap=cap).collect()}
    assert got == want


def test_exact_histogram_sums_to_bit_class_total(spark, seq_df):
    """With an uncapped bucket array the exact histogram must cover
    every run the bit-class table covers (same kernel, same runs)."""
    df, chars = seq_df
    _, lens = find_runs(chars)
    exact = analyze.exact_run_length_histogram(
        df, "ch", ["pos"], cap=int(lens.max())).collect()
    bc = analyze.run_length_histogram(df, "ch", ["pos"]).collect()
    assert sum(r.n_runs for r in exact) == sum(r.n_runs for r in bc)


def test_folded_kernels_leave_no_persists(spark, seq_df):
    """The folded kernels share one checkpointed arrangement and pin
    nothing else: once the memo is cleared and nothing built on it is
    reachable, Spark holds no more persisted RDDs than before."""
    df, _ = seq_df
    df.count()  # materialize the fixture's own cache before counting
    analyze.clear_run_cache()
    before = persistent_rdds(spark)
    analyze.run_stats(df, "ch", ["pos"]).collect()
    analyze.run_length_histogram(df, "ch", ["pos"]).collect()
    analyze.sym_width_run_histogram(df, "ch", ["pos"], 2).collect()
    analyze.unaligned_run_histogram(df, "ch", ["pos"], 2).collect()
    assert len(analyze._ARRANGED) == 1
    assert persistent_rdds(spark) <= before + 1
    assert release_all(spark, before) <= before


def test_folded_kernels_many_tiny_partitions(many_tasks):
    """Boundary stitch stress: 48 range partitions over short runs so
    nearly every run touches a task edge; single giant run too. Every
    kernel that stitches runs across task edges is checked here."""
    spark = many_tasks
    rng = np.random.default_rng(7)
    chars = np.repeat(np.array(list("AB"))[rng.integers(0, 2, 600)],
                      rng.integers(1, 4, 600))
    pdf = pd.DataFrame({"pos": np.arange(len(chars)), "ch": chars})
    df = spark.createDataFrame(pdf).repartition(48)
    assert n_range_tasks(df) > 8
    assert ({r.value: (r.n_runs, r.total_len, r.max_run_len) for r in
             analyze.run_stats(df, "ch", ["pos"]).collect()}
            == _naive_run_stats(chars))
    got = {r.bit_class: r.n_runs for r in
           analyze.sym_width_run_histogram(df, "ch", ["pos"], 3).collect()}
    assert got == _naive_width_hist(chars, 3)
    got = {r.bit_class: r.n_runs for r in
           analyze.unaligned_run_histogram(df, "ch", ["pos"], 2).collect()}
    assert got == _naive_unaligned_hist(chars, 2)
    got = {r.k: (r.n_hits, r.n_runs) for r in
           analyze.lru_recurrence(df, "ch", ["pos"], ks=(1, 3),
                                  min_run=2).collect()}
    assert got == _naive_lru(chars, (1, 3), 2)
    starts, lens = find_runs(chars)
    exact = dict(zip(*np.unique(lens[lens <= 64], return_counts=True)))
    got = {r.run_len: r.n_runs for r in
           analyze.exact_run_length_histogram(df, "ch", ["pos"]).collect()}
    assert got == {int(v): int(c) for v, c in exact.items()}
    got = sorted((r.start_rn, r.value, r.run_len) for r in
                 analyze.partition_runs(df, "ch", ["pos"]).collect())
    assert got == [(int(s) + 1, chars[s], int(ln))
                   for s, ln in zip(starts, lens)]
    analyze.clear_run_cache()

    one = pd.DataFrame({"pos": range(3000), "ch": ["Z"] * 3000})
    dfo = spark.createDataFrame(one).repartition(48)
    assert n_range_tasks(dfo) > 8
    rows = analyze.run_stats(dfo, "ch", ["pos"]).collect()
    assert [(r.value, r.n_runs, r.total_len, r.max_run_len)
            for r in rows] == [("Z", 1, 3000, 3000)]
    hist = {r.bit_class: r.n_runs for r in
            analyze.run_length_histogram(dfo, "ch", ["pos"]).collect()}
    assert hist == {3000 .bit_length() - 1: 1}
    assert [tuple(r) for r in analyze.lru_recurrence(
        dfo, "ch", ["pos"], ks=(1,)).collect()] == [(1, 0, 1)]
    assert analyze.exact_run_length_histogram(dfo, "ch", ["pos"]).count() == 0
    assert [tuple(r) for r in analyze.partition_runs(
        dfo, "ch", ["pos"]).collect()] == [(1, "Z", 3000)]
    analyze.clear_run_cache()


def test_partition_runs_single_value_column(many_tasks):
    # one giant run spanning every partition boundary
    pdf = pd.DataFrame({"pos": range(5000), "ch": ["X"] * 5000})
    df = many_tasks.createDataFrame(pdf).repartition(8)
    assert n_range_tasks(df) > 8
    runs = analyze.partition_runs(df, "ch", ["pos"]).collect()
    assert len(runs) == 1
    assert (runs[0].start_rn, runs[0].value, runs[0].run_len) == (1, "X", 5000)


def test_partition_runs_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"pos": [], "ch": []}),
                               "pos long, ch string")
    assert analyze.partition_runs(df, "ch", ["pos"]).count() == 0


def test_ref_rle8_size_fused_matches_exact_model(many_tasks):
    """The fused kernel+driver chain of ref_rle8_size_v1 must equal
    codecs.refmodel.ref_rle_size_model_v1 on the same byte stream,
    including under heavy task fragmentation (48 range partitions)
    where every candidate chain crosses task edges."""
    spark = many_tasks
    from rle_spark.codecs.refmodel import ref_rle_size_model_v1

    def model(chars):
        return ref_rle_size_model_v1(chars.astype("U1").view(np.uint32)
                                     .astype(np.uint8))

    rng = np.random.default_rng(17)
    # long runs (model-eligible), short runs, and literals mixed
    chars = np.repeat(np.array(list("ABC"))[rng.integers(0, 3, 900)],
                      rng.choice([1, 1, 2, 5, 9, 40, 300],
                                 900, p=[.3, .2, .2, .1, .1, .05, .05]))
    other = np.array(list("XY"))[rng.integers(0, 2, len(chars))]
    # eligible runs (20 or 200 rows) between literal stretches of 50,
    # 240 or 400 rows: copy gaps on both sides of 255, and task edges
    # (~400 rows apart) inside eligible runs, so the gap to the next
    # eligible run is measured from a run that crossed a task edge
    rng = np.random.default_rng(23)
    gaps = np.concatenate([
        part for i in range(60)
        for part in (np.repeat(["A", "B"][i % 2], rng.choice([20, 200])),
                     np.tile(["X", "Y"], rng.choice([25, 120, 200])))])
    df = spark.createDataFrame(pd.DataFrame({
        "pos": np.arange(len(chars)), "c1": chars, "c2": other
    })).repartition(48)
    assert n_range_tasks(df) > 8
    got = {r.col_name: r.model_bytes for r in
           analyze.ref_rle8_size_v1(df, ["c1", "c2"], ["pos"]).collect()}
    assert got == {"c1": model(chars), "c2": model(other)}
    dfg = spark.createDataFrame(pd.DataFrame({
        "pos": np.arange(len(gaps)), "c": gaps})).repartition(48)
    assert n_range_tasks(dfg) > 8
    got = analyze.ref_rle8_size_v1(dfg, ["c"], ["pos"]).collect()
    assert [r.model_bytes for r in got] == [model(gaps)]


def test_ref_rle8_size_rejects_mixed_types(spark):
    df = spark.createDataFrame([(0, "A", 1)], "pos long, s string, v long")
    with pytest.raises(ValueError, match=r"'s': 'string'.*'v': 'bigint'"):
        analyze.ref_rle8_size_v1(df, ["s", "v"], ["pos"])


def test_query_surface_persist_pool_bounded(spark):
    """Repeated analyze-family query calls (the bench loop) build one
    checkpoint per arrangement key, not one per call, and Spark frees
    them all once the memo is cleared."""
    from rle_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    analyze.clear_run_cache()
    before = persistent_rdds(spark)
    for _ in range(3):
        Q.q_run_extract_orderstatus(spark, sf).count()
        Q.q_run_stats_returnflag(spark, sf).count()
        Q.q_ref_rle8_size(spark, sf).count()
        Q.q_width3_run_histogram(spark, sf).count()
        assert persistent_rdds(spark) <= before + 3
    assert release_all(spark, before) <= before


def test_memo_hit_queries_run_in_two_jobs(spark):
    """With the arrangement and stats memos built, no analyze-family
    query reads the parquet schema again, every query runs in at most 2
    Spark jobs with its toPandas() (the codec-stats and LRU results are
    ordered on the driver, not by an orderBy), and run_extract's run kernel
    runs once per task of the action (counted by an accumulator in a
    pass-through stage over the memoized arrangement)."""
    from rle_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    names = [n for n in vars(Q) if n.startswith("q_")]
    names = names[names.index("q_run_stats_returnflag"):
                  names.index("q_codec_selection") + 1]

    def jobs(action) -> list[str]:
        """The stage names of each Spark job that action() starts."""
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        action()
        bus.waitUntilEmpty()
        st = sc.statusTracker()
        return [" ".join(s.name for s in map(st.getStageInfo,
                                             st.getJobInfo(j).stageIds) if s)
                for j in set(st.getJobIdsForGroup(None)) - before]

    analyze.clear_run_cache()
    for name in names:
        getattr(Q, name)(spark, sf).toPandas()
    for name in names:
        started = jobs(lambda: getattr(Q, name)(spark, sf).toPandas())
        assert not [j for j in started if "parquet at" in j], (name, started)
        assert len(started) <= 2, (name, started)

    src = analyze.ParquetSource(spark, os.path.join(sf, "orders.parquet"))
    entry = analyze._arranged(src, ["o_orderstatus"], ["o_orderkey"])
    arranged, tasks = entry.df, sc.accumulator(0)

    def count_task(batches):
        tasks.add(1)
        yield from batches

    entry.df = arranged.mapInPandas(count_task, arranged.schema)
    try:
        analyze.run_extract(src, "o_orderstatus", ["o_orderkey"]).toPandas()
    finally:
        entry.df = arranged
    assert tasks.value == arranged.rdd.getNumPartitions()
    analyze.clear_run_cache()


def test_held_results_stay_exact(many_tasks):
    """A lazy result stays exact whatever the memo does after it was
    made: a second call of the same query, more new arrangements than
    the memo holds, clear_run_cache() and a JVM GC. The rows are
    scrambled, and each input partition has more rows than the range
    sample takes from it (3 * 100 * 8 / 8 = 300), so a re-run of the
    range shuffle would sample other bounds and cut other slices."""
    spark = many_tasks
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # fixture restores
    rng = np.random.default_rng(29)
    chars = np.repeat(np.array(list("ABC"))[rng.integers(0, 3, 6000)],
                      rng.integers(1, 9, 6000))
    pdf = pd.DataFrame({"pos": np.arange(len(chars)), "ch": chars})
    df = spark.createDataFrame(pdf.iloc[rng.permutation(len(pdf))]
                               ).repartition(8)
    assert n_range_tasks(df) == 8
    analyze.clear_run_cache()
    before = persistent_rdds(spark)
    starts, lens = find_runs(chars)
    want = [(int(s) + 1, chars[s], int(ln)) for s, ln in zip(starts, lens)]
    held = analyze.run_extract(df, "ch", ["pos"])
    held_runs = analyze.partition_runs(df, "ch", ["pos"])
    assert [tuple(r) for r in analyze.run_extract(
        df, "ch", ["pos"]).collect()] == want
    for i in range(analyze._ARRANGED_CAP + 1):  # evicts df's entries
        analyze._arranged(spark.range(i + 1).withColumnRenamed("id", "pos"),
                          [], ["pos"])
    # every checkpoint but the held results' one is freed
    assert release_all(spark, before + 1) <= before + 1
    assert [tuple(r) for r in held.collect()] == want
    assert sorted(map(tuple, held_runs.collect())) == want


# --- ParquetSource input ----------------------------------------------------


def _write_pq(tmp_path, pdf, name, row_group_size):
    import pyarrow as pa
    import pyarrow.parquet as pq
    p = str(tmp_path / name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p,
                   row_group_size=row_group_size)
    return p


def _mk_pdf(n=6000, seed=7):
    rng = np.random.default_rng(seed)
    chars = np.repeat(np.array(list("ABCD"))[rng.integers(0, 4, n // 4)],
                      rng.integers(1, 9, n // 4))[:n]
    if len(chars) < n:
        chars = np.concatenate(
            [chars, np.full(n - len(chars), "A", dtype=chars.dtype)])
    return pd.DataFrame({"pos": np.arange(n, dtype=np.int64),
                         "ln": (np.arange(n, dtype=np.int64) % 3),
                         "ch": chars})


def _sorted_multi_rg(tmp_path, pdf):
    return _write_pq(tmp_path, pdf, "sorted.parquet", 500)


def _locally_unsorted(tmp_path, pdf):
    """Row groups cover disjoint key ranges, rows inside each shuffled."""
    rng = np.random.default_rng(11)
    chunks = [pdf.iloc[lo:lo + 500].iloc[rng.permutation(500)]
              for lo in range(0, len(pdf), 500)]
    return _write_pq(tmp_path, pd.concat(chunks, ignore_index=True),
                     "clustered.parquet", 500)


def _nested_struct(tmp_path, pdf):
    """A struct column before the order key: footer leaf indices differ
    from arrow field order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = len(pdf)
    meta = pa.StructArray.from_arrays(
        [pa.array(np.zeros(n, dtype=np.int64)),
         pa.array(np.random.default_rng(5).integers(0, 10, n))],
        names=["a", "b"])
    p = str(tmp_path / "nested.parquet")
    pq.write_table(pa.table({"meta": meta, "pos": pa.array(pdf["pos"]),
                             "ch": pa.array(pdf["ch"])}), p,
                   row_group_size=500)
    return p


@pytest.mark.parametrize("layout", [_sorted_multi_rg, _locally_unsorted,
                                    _nested_struct],
                         ids=["multi_rg", "locally_unsorted", "nested_struct"])
def test_parquet_source_matches_read_parquet(spark, tmp_path, layout):
    """A ParquetSource answers exactly as spark.read.parquet of the same
    path, whatever the file's row-group layout."""
    p = layout(tmp_path, _mk_pdf())
    src = analyze.ParquetSource(spark, p)
    for fn in (analyze.run_stats, analyze.partition_runs):
        got = sorted(map(tuple, fn(src, "ch", ["pos"]).collect()))
        want = sorted(map(tuple, fn(spark.read.parquet(p), "ch",
                                    ["pos"]).collect()))
        assert got == want
    analyze.clear_run_cache()


def test_column_codec_stats_memo(spark, tmp_path):
    pdf = _mk_pdf()
    p = _write_pq(tmp_path, pdf, "memo.parquet", 1000)
    src = analyze.ParquetSource(spark, p)
    first = analyze.column_codec_stats(src, ["pos", "ln"],
                                       ["pos"]).collect()
    entry = analyze._arranged(src, ["pos", "ln"], ["pos"])
    assert entry.stats is not None
    # a new handle on the unchanged file hits the same memo entry
    src_again = analyze.ParquetSource(spark, p)
    assert analyze._arranged(src_again, ["pos", "ln"], ["pos"]) is entry
    again = analyze.column_codec_stats(src_again, ["pos", "ln"],
                                       ["pos"]).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    assert len(analyze.run_stats(src, "ch", ["pos"]).collect()) == 4
    # a rewritten file must not serve a stale arrangement: fresh stats
    # rows and fresh kernel rows through a new ParquetSource
    time.sleep(1.1)
    half = pdf.iloc[: len(pdf) // 2].copy()
    half["ch"] = "Z"
    _write_pq(tmp_path, half, "memo.parquet", 1000)
    src2 = analyze.ParquetSource(spark, p)
    fresh = {r.col_name: r.n_values for r in
             analyze.column_codec_stats(src2, ["pos", "ln"],
                                        ["pos"]).collect()}
    assert fresh["pos"] == len(pdf) // 2
    assert [tuple(r) for r in analyze.run_stats(src2, "ch", ["pos"])
            .collect()] == [("Z", 1, len(half), len(half))]
    # the table is read lazily, but a missing one still fails the first
    # call instead of planning an empty table
    gone = analyze.ParquetSource(spark, str(tmp_path / "gone.parquet"))
    with pytest.raises(FileNotFoundError):
        analyze.column_codec_stats(gone, ["pos", "ln"], ["pos"])
    analyze.clear_run_cache()


def test_column_codec_stats_nullable_int(spark):
    """A nullable int column arrives in the kernel as float64 + NaN;
    nulls must be ignored (Spark min/max semantics), not crash int()."""
    rows = [(i, None if i % 7 == 3 else (i % 5) + 10)
            for i in range(4000)]
    df = spark.createDataFrame(rows, "pos long, v long").repartition(4)
    got = {r.col_name: r for r in
           analyze.column_codec_stats(df, ["v"], ["pos"]).collect()}
    vals = np.array([v for _, v in rows if v is not None])
    assert got["v"].vmin == int(vals.min())
    assert got["v"].vmax == int(vals.max())
    assert got["v"].n_distinct == len(np.unique(vals))
    analyze.clear_run_cache()
