"""fls_native: literal FastLanes-model format — kernels, container, Spark path.

Mirrors the reference's roundtrip test strategy
(test/all_types_single_threaded.test: write → read → zero IS DISTINCT FROM
mismatches) plus property tests on each codec kernel.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_fastlanes_spark.io import fls_kernels as K
from duckdb_fastlanes_spark.io.fls_native import (
    read_file,
    read_fls_native,
    read_footer,
    write_fls_native,
    write_table,
)
from tests.conftest import SF_DIR


# ------------------------------------------------------------------- kernels
@given(
    st.integers(min_value=0, max_value=64),
    st.integers(min_value=0, max_value=2**32),
)
@settings(max_examples=30, deadline=None)
def test_pack_bits_roundtrip(width, seed):
    rng = np.random.default_rng(seed)
    hi = 2**width if width < 64 else 2**63
    v = (
        rng.integers(0, hi, size=1024, dtype=np.uint64)
        if width
        else np.zeros(1024, dtype=np.uint64)
    )
    assert (K.unpack_bits(K.pack_bits(v, width), width, 1024) == v).all()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_ffor_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    base, w, payload = K.ffor_encode(a)
    assert (K.ffor_decode(base, w, payload, len(a)) == a).all()


def test_ffor_full_int64_range():
    a = np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1], dtype=np.int64)
    base, w, payload = K.ffor_encode(a)
    assert (K.ffor_decode(base, w, payload, 4) == a).all()


@given(
    st.lists(
        st.one_of(
            st.decimals(
                min_value=-1e6, max_value=1e6, places=3, allow_nan=False, allow_infinity=False
            ).map(float),
            st.just(float("nan")),
            st.just(float("inf")),
            st.floats(allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=1024,
    )
)
@settings(max_examples=40, deadline=None)
def test_alp_roundtrip_with_exceptions(vals):
    v = np.array(vals, dtype=np.float64)
    e, f = K.alp_choose(v)
    ints, ep, ev = K.alp_encode(v, e, f)
    out = K.alp_decode(ints, e, f, ep, ev)
    assert np.array_equal(out, v, equal_nan=True)


def test_alp_negative_zero_byte_exact():
    """-0.0 == 0.0 passes the exactness check, but decoding integer 0 gives
    +0.0 — the sign bit must survive via the exception path so the
    roundtrip is BYTE-exact, not merely value-equal."""
    v = np.array([-0.0, 0.0, 1.25, -0.0], dtype=np.float64)
    e, f = K.alp_choose(v)
    ints, ep, ev = K.alp_encode(v, e, f)
    out = K.alp_decode(ints, e, f, ep, ev)
    assert out.tobytes() == v.tobytes()  # bit-exact, sign of zero included


def test_rle_index_mapped_contract():
    # decode contract of rle_map_kernel.hpp: arr[i] == run_values[idxs[i]]
    a = np.repeat(np.array([7, -3, 7, 9], dtype=np.int64), [5, 1, 3, 7])
    runs, idxs = K.rle_encode(a)
    assert (runs == np.array([7, -3, 7, 9])).all()
    assert (K.rle_decode(runs, idxs) == a).all()


def test_dict_offsets_layout():
    keys = [b"", b"a", b"hello", b"\xf0\x9f\x8c\x8d"]
    ends, blob = K.dict_offsets_bytes(keys)
    assert K.strings_from_offsets(ends, blob) == keys


@pytest.mark.parametrize("n", [0, 1, 7, 63, 64, 65, 1000, 1024])
def test_pack_bits_layout_matches_reference(n):
    """Dense little-endian W-bit fields, zero-padded to whole 64-bit words:
    value i occupies bits [i*W, (i+1)*W) of one little-endian integer. The
    roundtrip test alone cannot catch a layout change that stays
    self-consistent between pack and unpack."""
    rng = np.random.default_rng(n)
    for width in range(65):
        hi = 2**width
        v = np.array(
            [int(x) % hi for x in rng.integers(0, 2**63, n, dtype=np.uint64)],
            dtype=np.uint64,
        ) if width else np.zeros(n, dtype=np.uint64)
        if width == 64:
            v |= rng.integers(0, 2, n, dtype=np.uint64) << np.uint64(63)
        acc = 0
        for i, x in enumerate(v.tolist()):
            acc |= x << (i * width)
        ref = acc.to_bytes(((n * width + 63) // 64) * 8, "little")
        assert K.pack_bits(v, width) == ref, width


# ----------------------------------------------------------------- container
def _all_types_table(n=3000, seed=3):
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "i8": pa.array(
                [None if i % 7 == 0 else (i % 100) - 50 for i in range(n)], pa.int8()
            ),
            "i64": pa.array(rng.integers(-(2**40), 2**40, n), pa.int64()),
            "runs": pa.array(np.repeat(np.arange(n // 1000 + 1), 1000)[:n], pa.int64()),
            "const": pa.array([42] * n, pa.int32()),
            "f": pa.array(
                [None if i % 11 == 0 else round(float(i) * 0.01, 2) for i in range(n)],
                pa.float64(),
            ),
            "f32": pa.array(rng.normal(0, 1, n).astype(np.float32), pa.float32()),
            "s": pa.array(
                [None if i % 13 == 0 else f"cat{i % 5}" for i in range(n)], pa.string()
            ),
            "b": pa.array([bool(i % 2) for i in range(n)], pa.bool_()),
            "d": pa.array([18000 + i % 50 for i in range(n)], pa.date32()),
            "ts": pa.array(np.arange(n) * 1_000_000, pa.timestamp("us")),
        }
    )


def test_container_roundtrip_all_types(tmp_path):
    t = _all_types_table()
    path = str(tmp_path / "all.fls")
    footer = write_table(t, path, row_group_size=1024)
    assert footer["n_rows"] == t.num_rows
    t2 = pa.Table.from_batches(list(read_file(path)))
    for name in t.schema.names:
        assert t.column(name).combine_chunks().equals(
            t2.column(name).combine_chunks()
        ), name


def test_encoder_selection(tmp_path):
    t = _all_types_table()
    footer = write_table(t, str(tmp_path / "e.fls"), row_group_size=1024)
    encs = {}
    for rg in footer["row_groups"]:
        for cname, meta in zip(t.schema.names, rg["columns"]):
            for k, v in meta["encodings"].items():
                encs.setdefault(cname, set()).add(k)
    assert encs["const"] == {"constant"}
    assert "dict" in encs["s"]  # 5 distinct categories → dictionary
    assert "alp" in encs["f"]  # 2-decimal values → ALP exact
    assert "uncompressed" in encs["f32"]  # irrational normals → ALP rejected
    assert "ffor" in encs["i64"]


@given(st.binary(min_size=0, max_size=2000))
@settings(max_examples=50, deadline=None)
def test_fsst_roundtrip_any_bytes(blob):
    table = K.fsst_build_table(blob)
    assert len(table) <= K.FSST_MAX_SYMBOLS
    assert all(1 <= len(s) <= K.FSST_MAX_SYMLEN for s in table)
    assert K.fsst_decode(K.fsst_encode(blob, table), table) == blob


def test_fsst_escape_byte_payload_roundtrip():
    # 0xff both as literal content and adjacent to symbol hits
    blob = b"\xffabcabc\xff\xffabc"
    table = K.fsst_build_table(b"abcabcabcabc")
    assert K.fsst_decode(K.fsst_encode(blob, table), table) == blob


def test_fsst_compresses_repetitive_text():
    blob = (b"the quick brown fox jumps over the lazy dog " * 200)[:8000]
    table = K.fsst_build_table(blob)
    code = K.fsst_encode(blob, table)
    assert len(code) < len(blob) // 2
    assert K.fsst_decode(code, table) == blob


def test_fsst_concatenated_decode_splits_by_offsets():
    strings = [b"hello world", b"", b"world hello hello", b"\xff raw"]
    table = K.fsst_build_table(b" ".join(strings) * 20)
    code = b"".join(K.fsst_encode(s, table) for s in strings)
    blob = K.fsst_decode(code, table)
    ends = np.cumsum([len(s) for s in strings])
    assert blob == b"".join(strings)
    prev = 0
    for s, e in zip(strings, ends):
        assert blob[prev:e] == s
        prev = e


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_freq_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    top, pos, exc = K.freq_encode(a)
    assert (K.freq_decode(top, pos, exc, len(a)) == a).all()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_slpatch_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_slpatch_full_int64_range():
    a = np.array(
        [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1, 7, 7, 7],
        dtype=np.int64,
    )
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_slpatch_beats_ffor_on_outliers():
    # 1020 tiny deltas + 4 huge outliers: FFOR pays 64 bits/value,
    # SLPatch packs 4 bits + 4 exceptions
    a = np.arange(1024, dtype=np.int64) % 16
    a[[10, 200, 500, 900]] = 2**60
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert w <= 8 and len(pos) == 4
    slp_bytes = len(payload) + 10 * len(pos)
    _, fw, fp = K.ffor_encode(a)
    assert slp_bytes < len(fp) // 4
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_freq_chosen_for_scattered_repeats(tmp_path):
    # one dominant value with SCATTERED exceptions (no runs → RLE loses,
    # 60-bit outliers → FFOR/SLPatch pay per-value width)
    rng = np.random.default_rng(7)
    v = np.full(4096, 42, dtype=np.int64)
    idx = rng.choice(4096, size=60, replace=False)
    v[idx] = rng.integers(2**59, 2**60, size=60)
    footer = write_table(pa.table({"x": pa.array(v)}), str(tmp_path / "f.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "frequency" in encs


def test_slpatch_chosen_for_outlier_deltas(tmp_path):
    rng = np.random.default_rng(11)
    v = rng.integers(0, 256, size=4096).astype(np.int64)  # 8-bit bulk
    v[rng.choice(4096, size=40, replace=False)] = 2**55  # patched tail
    footer = write_table(pa.table({"x": pa.array(v)}), str(tmp_path / "s.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "slpatch" in encs


def test_fsst_chosen_for_high_cardinality_text(tmp_path):
    # unique-per-row strings over a shared vocabulary: dictionary is
    # rejected (cardinality == n), FSST pays via the shared symbol table
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur"]
    rng = np.random.default_rng(3)
    vals = [
        " ".join(words[j] for j in rng.integers(0, len(words), size=12))
        + f" #{i}"
        for i in range(8192)
    ]
    t = pa.table({"s": pa.array(vals, pa.string())})
    path = str(tmp_path / "fsst.fls")
    footer = write_table(t, path, row_group_size=4096)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "fsst" in encs
    t2 = pa.Table.from_batches(list(read_file(path)))
    assert t.column("s").combine_chunks().equals(t2.column("s").combine_chunks())
    # and the format actually shrank the payload vs raw utf-8
    import os

    raw = sum(len(s.encode()) for s in vals)
    assert os.path.getsize(path) < raw


def test_fsst_nulls_roundtrip(tmp_path):
    vals = [None if i % 7 == 0 else f"payload text number {i} with shared shingles" for i in range(5000)]
    t = pa.table({"s": pa.array(vals, pa.string())})
    path = str(tmp_path / "fsstn.fls")
    write_table(t, path, row_group_size=1024)
    t2 = pa.Table.from_batches(list(read_file(path)))
    assert t.column("s").combine_chunks().equals(t2.column("s").combine_chunks())


def test_rle_chosen_for_long_runs(tmp_path):
    t = pa.table({"r": pa.array(np.repeat(np.int64(5), 4096))})
    # constant wins all-equal vectors; make two runs per vector instead
    t = pa.table(
        {"r": pa.array(np.tile(np.repeat(np.array([3, 9], dtype=np.int64), 512), 4))}
    )
    footer = write_table(t, str(tmp_path / "r.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "rle" in encs


def test_rowgroup_pruning_skips(tmp_path):
    n = 8192
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)), "v": pa.array(np.ones(n))})
    path = str(tmp_path / "p.fls")
    write_table(t, path, row_group_size=1024)
    footer = read_footer(path)
    assert len(footer["row_groups"]) == 8
    batches = list(read_file(path, predicate=[("k", ">=", 6000)]))
    # row groups [0..5] (max key 6143 in rg5) — rgs 0-4 proven empty, pruned
    assert len(batches) == 3
    got = pa.Table.from_batches(batches)
    assert got.num_rows == 3 * 1024
    # conservative: surviving rows still need the exact filter
    k = np.asarray(got.column("k"))
    assert k.min() == 5120 and k.max() == 8191


def test_projection_decodes_only_requested(tmp_path):
    t = _all_types_table(1000)
    path = str(tmp_path / "proj.fls")
    write_table(t, path)
    got = pa.Table.from_batches(list(read_file(path, columns=["i64", "s"])))
    assert got.schema.names == ["i64", "s"]
    assert got.column("i64").to_pylist() == t.column("i64").to_pylist()


def _golden_table(n=4096, seed=2024):
    """Seeded table whose 2048-row groups hit every encoding: constant,
    FFOR, RLE, frequency, SLPatch, dict, ALP, FSST and uncompressed, with
    nulls, an all-null vector and non-ASCII strings. No float vector mixes
    0.0 and -0.0 (those encode differently since the constant check
    compares bit patterns)."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n)
    freq = np.full(n, 5, dtype=np.int64)
    hit = rng.random(n) < 0.02
    freq[hit] = rng.integers(-(2**40), 2**40, int(hit.sum()))
    slp = rng.integers(0, 16, n).astype(np.int64)
    out = rng.random(n) < 0.01
    slp[out] = rng.integers(2**40, 2**41, int(out.sum()))
    alp = np.round(rng.uniform(-1000, 1000, n), 2)
    alp[[3, 700, 2050]] = [np.inf, np.nan, 1.0 / 3.0]
    words = ["grüße", "naïve", "café", "日本語", "données", "straße", "ταχύ",
             "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"]
    keys = ["alpha", "βeta", "γάμμα", "😀 emoji", "Zeta", "zeta", "", "Ωmega"]
    alnum = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    return pa.table({
        "const_i": pa.array(np.full(n, 7), pa.int32()),
        "ffor_i": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "rle_i": pa.array((idx // 128) * 1_000_003, pa.int64()),
        "freq_i": pa.array(freq, pa.int64()),
        "slp_i": pa.array(slp, pa.int64()),
        "i8": pa.array([None if i % 7 == 0 else int(i % 100) - 50 for i in idx], pa.int8()),
        "b": pa.array(rng.random(n) < 0.3, pa.bool_()),
        "d": pa.array((19000 + idx // 3).astype(np.int32), pa.date32()),
        "ts": pa.array(1_700_000_000_000_000 + idx * 1_000_003, pa.timestamp("us")),
        "const_f": pa.array(np.full(n, 1.5), pa.float64()),
        "alp_f": pa.array([None if i % 13 == 0 else float(x) for i, x in enumerate(alp)], pa.float64()),
        "unc_f": pa.array(rng.standard_normal(n), pa.float64()),
        "f32": pa.array(np.round(rng.uniform(0, 50, n), 1).astype(np.float32), pa.float32()),
        "null_f": pa.array([None if i < 1024 else float(i % 10) for i in idx], pa.float64()),
        "dict_s": pa.array([
            "const" if i < 1024 else (None if i % 9 == 0 else keys[int(rng.integers(len(keys)))])
            for i in idx], pa.string()),
        "fsst_s": pa.array([
            None if i % 17 == 0
            else " ".join(words[int(j)] for j in rng.integers(0, len(words), 6)) + f" #{i}"
            for i in idx], pa.string()),
        "plain_s": pa.array(
            ["".join(rng.choice(alnum, int(rng.integers(8, 13)))) for _ in idx], pa.string()
        ),
    })


#: sha256 of ``write_table(_golden_table(), row_group_size=2048)``, taken
#: from the per-value reference encoder this vectorized one replaced
GOLDEN_SHA256 = "ab2e771ad961f7b06b3a3be9f71e08a0aa21a733dbe573816a38a534288ab1af"


def test_golden_file_bytes(tmp_path):
    import hashlib

    t = _golden_table()
    path = str(tmp_path / "golden.fls")
    footer = write_table(t, path, row_group_size=2048)
    encs = set()
    for rg in footer["row_groups"]:
        for meta in rg["columns"]:
            encs |= set(meta["encodings"])
    assert encs == {
        "constant", "ffor", "rle", "frequency", "slpatch",
        "dict", "alp", "fsst", "uncompressed",
    }
    with open(path, "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == GOLDEN_SHA256
    back = pa.Table.from_batches(list(read_file(path)))
    for name in t.schema.names:
        a, b = t.column(name).combine_chunks(), back.column(name).combine_chunks()
        if pa.types.is_floating(a.type):
            assert np.array_equal(
                a.to_numpy(zero_copy_only=False), b.to_numpy(zero_copy_only=False),
                equal_nan=True,
            ), name
            assert a.is_null().equals(b.is_null()), name
        else:
            assert a.equals(b), name


def test_float_vector_mixing_signed_zeros_keeps_sign(tmp_path):
    """0.0 == -0.0, so a value-equality constant check would store a vector
    mixing them as CONSTANT and lose every sign bit but the first."""
    v = np.zeros(3 * 1024, dtype=np.float64)
    v[1:1024] = -0.0
    v[1024:2048:2] = -0.0
    v[2048:] = -0.0
    path = str(tmp_path / "z.fls")
    footer = write_table(pa.table({"z": pa.array(v)}), path, row_group_size=1024)
    got = pa.Table.from_batches(list(read_file(path))).column("z").to_numpy()
    assert np.array_equal(np.signbit(got), np.signbit(v))
    # an all -0.0 vector is still constant
    assert footer["row_groups"][2]["columns"][0]["encodings"] == {"constant": 1}


def test_empty_table(tmp_path):
    t = _all_types_table(0)
    path = str(tmp_path / "empty.fls")
    write_table(t, path)
    batches = list(read_file(path))
    assert sum(b.num_rows for b in batches) == 0


# ---------------------------------------------------------------- spark path
@pytest.mark.parametrize("parts", [1, 5])
def test_spark_roundtrip_documents(spark, tmp_path, parts):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(parts)
    out = str(tmp_path / f"docs{parts}")
    write_fls_native(d, out, row_group_size=2048)
    rt = read_fls_native(spark, out)
    assert rt.exceptAll(d).count() == 0
    assert d.exceptAll(rt).count() == 0


def test_spark_scan_has_no_shuffle(spark, tmp_path):
    """The file list is a local relation already sliced into
    min(files, defaultParallelism) partitions; the scan adds no Exchange."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 40 * par, 1, 1).selectExpr("id", "id % 7 AS v")
    for parts in (3, par + 2):
        out = str(tmp_path / f"n{parts}")
        write_fls_native(df.repartition(parts), out)
        n_files = len([f for f in os.listdir(out) if f.endswith(".fls")])
        rt = read_fls_native(spark, out)
        assert rt.rdd.getNumPartitions() == min(n_files, par)
        rt.collect()
        plan = rt._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert rt.count() == df.count()


def test_spark_partition_invariance(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    outs = []
    for parts in (2, 7):
        out = str(tmp_path / f"li{parts}")
        write_fls_native(li.repartition(parts), out)
        rows = read_fls_native(spark, out).collect()
        # (l_orderkey, l_linenumber) is not unique in the synthetic corpus —
        # sort by the full tuple for a deterministic comparison
        outs.append(sorted(rows, key=lambda r: tuple(str(v) for v in r)))
    assert outs[0] == outs[1]


def test_spark_empty_partitions(spark, tmp_path):
    sm = spark.read.parquet(f"{SF_DIR}/nation.parquet").repartition(50)
    out = str(tmp_path / "nation")
    write_fls_native(sm, out)
    rt = read_fls_native(spark, out)
    assert rt.count() == sm.count()
    assert rt.exceptAll(sm).count() == 0


def test_spark_projection_and_predicate(spark, tmp_path):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li_sorted")
    write_fls_native(
        li.repartitionByRange(2, "l_orderkey").sortWithinPartitions("l_orderkey"),
        out,
        row_group_size=1024,
    )
    rt = read_fls_native(
        spark, out, columns=["l_orderkey", "l_extendedprice"],
        predicate=[("l_orderkey", "<", 500)],
    )
    assert rt.columns == ["l_orderkey", "l_extendedprice"]
    got = rt.filter(F.col("l_orderkey") < 500).agg(
        F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    exp = li.filter(F.col("l_orderkey") < 500).agg(
        F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got["n"] == exp["n"]
    assert got["s"] == pytest.approx(exp["s"], rel=1e-12)


def test_promote_ltype_lattice():
    from duckdb_fastlanes_spark.io.fls_native import promote_ltype

    assert promote_ltype("int8", "int64") == "int64"
    assert promote_ltype("bool", "int16") == "int16"
    assert promote_ltype("int32", "float32") == "float64"
    assert promote_ltype("float32", "float64") == "float64"
    assert promote_ltype("int64", "str") == "str"
    assert promote_ltype("date32", "timestamp_us") == "timestamp_us"
    with pytest.raises(TypeError):
        promote_ltype("timestamp_us", "int64")


def test_spark_union_by_name_promotion(spark, tmp_path):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "evo")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"), "o_totalprice"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_fls_native(gen1, out, mode="overwrite")
    write_fls_native(gen2, out, mode="append")
    ev = read_fls_native(spark, out, union_by_name=True)
    # promoted: int32 ⊔ int64 → bigint; missing column nullable string
    assert dict(ev.dtypes)["o_orderkey"] == "bigint"
    assert dict(ev.dtypes)["o_orderpriority"] == "string"
    assert ev.count() == o.count()
    n_missing = ev.filter(F.col("o_orderpriority").isNull()).count()
    assert n_missing == gen1.count()
    # value fidelity through the widening
    got = ev.agg(F.sum("o_orderkey")).collect()[0][0]
    exp = o.agg(F.sum("o_orderkey")).collect()[0][0]
    assert got == exp


# ---------------------------------------------------------------- A6 adaptive


def _adaptive_fixture(spark, tmp_path, n_files=1):
    """One .fls file of orders with two predicate columns of very different
    selectivity; returns (path, pandas ground truth)."""
    from pyspark.sql import functions as F

    o = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 4).alias("bucket"),
        )
        .coalesce(n_files)
    )
    out = str(tmp_path / "adaptive")
    write_fls_native(o, out, row_group_size=1024)
    return out, o.toPandas()


def test_adaptive_filter_matches_post_filter(spark, tmp_path):
    from duckdb_fastlanes_spark.io.fls_native import read_file_adaptive
    import os

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    preds = [("o_totalprice", ">=", 400000.0), ("bucket", "=", 1)]
    got = pa.Table.from_batches(
        list(read_file_adaptive(f, predicate=preds)),
        ).to_pandas()
    exp = pdf[(pdf.o_totalprice >= 400000.0) & (pdf.bucket == 1)]
    assert sorted(got.o_orderkey) == sorted(exp.o_orderkey)
    assert len(got) == len(exp)


def test_adaptive_filter_order_converges_and_is_permutation_invariant(
    spark, tmp_path
):
    """The executor must settle on the MOST SELECTIVE predicate first
    regardless of the order the caller wrote, and the surviving rows must
    be identical under any input permutation."""
    from duckdb_fastlanes_spark.io.fls_native import read_file_adaptive
    import os

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    # totalprice >= 400000 keeps ~25%; bucket = 1 keeps ~25%... pick a
    # sharper split: totalprice >= p90 keeps ~10% vs bucket keeps 25%
    p90 = float(pdf.o_totalprice.quantile(0.9))
    sel = ("o_totalprice", ">=", p90)  # ~10% pass — the selective one
    loose = ("bucket", "<=", 2)  # ~75% pass — the loose one
    rows = {}
    for label, preds in (("sel_first", [sel, loose]), ("loose_first", [loose, sel])):
        stats: dict = {}
        got = pa.Table.from_batches(
            list(read_file_adaptive(f, predicate=preds, stats=stats))
        ).to_pandas()
        rows[label] = sorted(got.o_orderkey)
        # final adaptive order puts the selective predicate first even when
        # the caller listed it last
        assert stats["order"][0] == sel, (label, stats["order"])
    assert rows["sel_first"] == rows["loose_first"]
    exp = pdf[(pdf.o_totalprice >= p90) & (pdf.bucket <= 2)]
    assert rows["sel_first"] == sorted(exp.o_orderkey)


def test_adaptive_filter_null_semantics(tmp_path):
    """NULLs fail every predicate (SQL semantics), never match."""
    import pyarrow as pa
    from duckdb_fastlanes_spark.io.fls_native import (
        read_file_adaptive,
        write_table,
    )

    tbl = pa.table(
        {
            "k": pa.array([1, 2, None, 4, None, 6], type=pa.int64()),
            "v": pa.array([10.0, None, 30.0, 40.0, 50.0, None]),
        }
    )
    f = str(tmp_path / "nulls.fls")
    write_table(tbl, f)
    got = pa.Table.from_batches(
        list(read_file_adaptive(f, predicate=[("k", ">", 1), ("v", ">", 0.0)]))
    )
    assert got.column("k").to_pylist() == [4]


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=4000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ops=st.lists(
        st.sampled_from(["=", "!=", ">", ">=", "<", "<="]),
        min_size=1,
        max_size=4,
    ),
)
def test_adaptive_filter_property_random(tmp_path_factory, n, seed, ops):
    """For ANY data and ANY predicate set, the adaptive executor must equal
    decode-then-filter — including all-pass, all-fail, and sizes that do
    not fill a 1024 vector."""
    import numpy as np
    import pyarrow as pa

    from duckdb_fastlanes_spark.io.fls_native import (
        read_file_adaptive,
        write_table,
    )

    rng = np.random.default_rng(seed)
    k = rng.integers(0, 20, size=n).astype(np.int64)
    v = np.round(rng.normal(0, 10, size=n), 3)
    tbl = pa.table({"k": k, "v": v})
    f = str(tmp_path_factory.mktemp("afp") / "t.fls")
    write_table(tbl, f)
    preds = []
    for i, op in enumerate(ops):
        col = "k" if i % 2 == 0 else "v"
        val = int(rng.integers(0, 20)) if col == "k" else float(np.round(rng.normal(0, 10), 3))
        preds.append((col, op, val))
    batches = list(read_file_adaptive(f, predicate=preds))
    got = (
        pa.Table.from_batches(batches).to_pandas().sort_values(["k", "v"])
        if batches
        else None
    )
    import pandas as pd

    pdf = tbl.to_pandas()
    m = pd.Series(True, index=pdf.index)
    for col, op, val in preds:
        s = pdf[col]
        m &= {
            "=": s == val, "!=": s != val, ">": s > val,
            ">=": s >= val, "<": s < val, "<=": s <= val,
        }[op]
    exp = pdf[m].sort_values(["k", "v"])
    if got is None:
        assert len(exp) == 0
    else:
        assert got.reset_index(drop=True).equals(exp.reset_index(drop=True))


def test_position_cap_raises_value_error_not_assert():
    """freq/slpatch positions serialize as uint16; the >0xFFFF guard is a
    data-integrity gate and must survive `python -O` (ValueError, never a
    strippable assert — ADVICE r6)."""
    import pytest

    big = np.zeros(0xFFFF + 1, dtype=np.int64)
    with pytest.raises(ValueError, match="uint16 position space"):
        K.freq_encode(big)
    with pytest.raises(ValueError, match="uint16 position space"):
        K.slpatch_encode(big)


def test_adaptive_filter_records_skipped_predicates(spark, tmp_path):
    """Predicates on columns absent from the file schema are skipped (the
    multi-file divergent-schema degrade), but the skip must be VISIBLE:
    recorded in stats, and warned about when NO predicate column matched
    (the typo case) — ADVICE r6."""
    import os
    import warnings

    from duckdb_fastlanes_spark.io.fls_native import read_file_adaptive

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    # mixed: one real column, one absent → filter applies, skip recorded
    stats: dict = {}
    got = pa.Table.from_batches(
        list(
            read_file_adaptive(
                f, predicate=[("bucket", "=", 1), ("no_such_col", ">", 0)], stats=stats
            )
        )
    ).to_pandas()
    assert len(got) == int((pdf.bucket == 1).sum())
    assert stats["skipped_predicates"] == [("no_such_col", ">", 0)]
    # entirely unmatched → unfiltered rows + a loud warning
    stats2: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = sum(
            b.num_rows
            for b in read_file_adaptive(
                f, predicate=[("tpyo", "=", 1)], stats=stats2
            )
        )
    assert n == len(pdf)
    assert stats2["skipped_predicates"] == [("tpyo", "=", 1)]
    assert any("no predicate column" in str(x.message) for x in w)
