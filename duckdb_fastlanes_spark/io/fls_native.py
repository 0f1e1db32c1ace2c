"""``fls_native`` — a literal FastLanes-model columnar file format, readable
and writable without Parquet, built on the fls_kernels codecs.

Why this exists / honesty note. The reference's ``.fls`` files are framed by
the external FastLanes library (FetchContent'd from GitHub at build time —
CMakeLists.txt:58); its FlatBuffers footer schema
(``fls/footer/table_descriptor_generated.h``, included by
src/reader/schema_builder.cpp:3) is NOT part of the reference repo, this
environment has no network, and the repo carries no binary ``.fls``
fixtures — so byte-level interop with reference-written files cannot be
built or validated here. What IS fully specified by the reference + the
published FastLanes/ALP papers is the *data model*, and this module
implements that literally:

- 1024-value vectors (CFG::VEC_SZ; fls_writer.hpp:12-22), grouped into row
  groups of N_VEC_PER_RG vectors;
- per-vector encoding chosen by measured size: constant / FFOR / RLE /
  frequency / SLPatch / dictionary / ALP / FSST / uncompressed — the same
  kernel family the reference materializes through
  (src/include/reader/materializer/kernels/*.hpp); FSST symbol tables are
  chunk-shared (fsst_dict_kernel.hpp's Prepare-once geometry) and kept
  only when a sampled encode shows ≥15% size win;
- a self-describing footer with schema + per-row-group per-column segment
  offsets and min/max statistics, used for row-group pruning on read
  (row_group_filter.cpp:75-199, row_group_statistics.cpp) — serialized as
  zlib'd JSON in place of the unavailable FlatBuffers schema.

Scale shape: one ``.fls`` file per Spark partition on write
(``mapInArrow`` — each task encodes its own partition, no shuffle), and on
read the file list is a local relation sliced into
min(files, defaultParallelism) partitions, each task decoding whole files
(footer → prune row groups → decode selected columns only) — no shuffle
either. That is per-file parallel scan + projection + zone-map pruning —
the same execution shape as the Parquet path, with the decode running in
NumPy over Arrow batches. On a cluster the directory lives on a shared
filesystem, exactly like every other file sink.

Supported logical types: int8/16/32/64, float32/64, bool, string,
timestamp_us, date32. Nulls carried as per-vector validity bitmaps (the
reference's own NULL path is broken — fls_reader.cpp:200-201 — so this is
a superset). LIST/STRUCT/MAP are not supported, matching the reference
(fls_view_writer.cpp:91-92 rejects them).
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa

from duckdb_fastlanes_spark.io import fls_kernels as K

MAGIC = b"FLSNATI1"
VEC_SZ = K.VEC_SZ
DEFAULT_ROW_GROUP_SIZE = 64 * VEC_SZ  # 65,536 rows — reference bench geometry

ENC_CONSTANT = 0
ENC_UNCOMP = 1
ENC_FFOR = 2
ENC_DICT = 3
ENC_ALP = 4
ENC_RLE = 5
ENC_FSST = 6
ENC_FREQ = 7
ENC_SLPATCH = 8

ENC_NAMES = {
    ENC_CONSTANT: "constant",
    ENC_UNCOMP: "uncompressed",
    ENC_FFOR: "ffor",
    ENC_DICT: "dict",
    ENC_ALP: "alp",
    ENC_RLE: "rle",
    ENC_FSST: "fsst",
    ENC_FREQ: "frequency",
    ENC_SLPATCH: "slpatch",
}

#: chunk-header string modes (first byte of every column chunk)
_STR_PLAIN = 0
_STR_DICT = 1
_STR_FSST = 2

#: logical type name → (arrow type, int-backed?)
_TYPES = {
    "int8": (pa.int8(), True),
    "int16": (pa.int16(), True),
    "int32": (pa.int32(), True),
    "int64": (pa.int64(), True),
    "bool": (pa.bool_(), True),
    "date32": (pa.date32(), True),
    "timestamp_us": (pa.timestamp("us"), True),
    "float32": (pa.float32(), False),
    "float64": (pa.float64(), False),
    "str": (pa.string(), False),
}


def _logical_type(t: pa.DataType) -> str:
    if pa.types.is_int8(t):
        return "int8"
    if pa.types.is_int16(t):
        return "int16"
    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date32(t):
        return "date32"
    if pa.types.is_timestamp(t):
        return "timestamp_us"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    raise TypeError(f"fls_native: unsupported type {t} (reference rejects nested too)")


def arrow_schema(logical: list[tuple[str, str]]) -> pa.Schema:
    return pa.schema([(n, _TYPES[t][0]) for n, t in logical])


# ======================================================================= write
def _valid_mask(arr: pa.Array) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    return np.asarray(arr.is_valid())


def _encode_int_vector(v: np.ndarray, out: bytearray) -> int:
    """Choose + write the cheapest integer encoding by exact encoded bytes
    (constant / RLE / frequency / SLPatch / FFOR); returns ENC_*. Every
    candidate's size comes from one sort, one run count and one
    bit-length search; only the winner is encoded."""
    n = len(v)
    s = np.sort(v)
    if n and s[0] == s[-1]:
        out += struct.pack("<q", int(v[0]))
        return ENC_CONSTANT
    width = (int(s[-1]) - int(s[0])).bit_length()
    n_runs = 1 + int(np.count_nonzero(v[1:] != v[:-1]))
    _, top_count = K.freq_top(s)
    sp_w, sp_exc = K.slpatch_width(s)
    # RLE: run values (8B each) + packed run indices; FFOR: packed deltas
    # (bit-packed payloads are whole 64-bit words)
    iw = (n_runs - 1).bit_length()
    rle_cost = 2 + 8 * n_runs + 1 + (n * iw + 7) // 8
    ffor_cost = 9 + (n * width + 63) // 64 * 8
    freq_cost = 8 + 2 + 10 * (n - top_count)
    slp_cost = 9 + (n * sp_w + 63) // 64 * 8 + 2 + 10 * sp_exc
    best = min(rle_cost if n_runs <= 0xFFFF else 1 << 62,
               freq_cost, slp_cost, ffor_cost)
    if best == freq_cost and freq_cost < ffor_cost:
        top, f_pos, f_vals = K.freq_encode(v)
        out += struct.pack("<qH", top, len(f_pos))
        out += f_pos.astype(np.uint16).tobytes()
        out += f_vals.astype(np.int64).tobytes()
        return ENC_FREQ
    if n_runs <= 0xFFFF and best == rle_cost and rle_cost < ffor_cost:
        runs, idxs = K.rle_encode(v)
        out += struct.pack("<H", len(runs))
        out += runs.astype(np.int64).tobytes()
        out += struct.pack("<B", iw)
        out += K.pack_bits(idxs, iw)
        return ENC_RLE
    if best == slp_cost and slp_cost < ffor_cost and sp_exc:
        sp_base, sp_w, sp_payload, sp_pos, sp_vals = K.slpatch_encode(v)
        out += struct.pack("<qB", sp_base, sp_w)
        out += sp_payload
        out += struct.pack("<H", len(sp_pos))
        out += sp_pos.astype(np.uint16).tobytes()
        out += sp_vals.astype(np.int64).tobytes()
        return ENC_SLPATCH
    base, width, payload = K.ffor_encode(v)
    out += struct.pack("<qB", base, width)
    out += payload
    return ENC_FFOR


def _encode_float_vector(v: np.ndarray, ef: tuple[int, int], out: bytearray) -> int:
    # constant only when every value has the same BIT pattern: 0.0 == -0.0
    # would otherwise store a mixed-sign-zero vector as its first value
    if len(v) and not np.isnan(v).any():
        bits = v.view(np.int64)
        if (bits == bits[0]).all():
            out += struct.pack("<d", float(v[0]))
            return ENC_CONSTANT
    ints, exc_pos, exc_vals = K.alp_encode(v, *ef)
    if len(exc_pos) <= len(v) // 4 and len(exc_pos) <= 0xFFFF:
        base, width, payload = K.ffor_encode(ints)
        alp_cost = 2 + 9 + len(payload) + 2 + 10 * len(exc_pos)
        if alp_cost < 8 * len(v):
            out += struct.pack("<BBqB", ef[0], ef[1], base, width)
            out += payload
            out += struct.pack("<H", len(exc_pos))
            out += exc_pos.astype(np.uint16).tobytes()
            out += exc_vals.astype(np.float64).tobytes()
            return ENC_ALP
    out += v.astype(np.float64).tobytes()
    return ENC_UNCOMP


def _str_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a null-free string array: value i is the UTF-8
    bytes ``data[offsets[i]:offsets[i + 1]]``."""
    large = pa.types.is_large_string(arr.type)
    _, obuf, dbuf = arr.buffers()
    offsets = np.frombuffer(
        obuf, dtype=np.int64 if large else np.int32, count=len(arr) + 1,
        offset=arr.offset * (8 if large else 4),
    ).astype(np.int64)
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.zeros(0, np.uint8)
    return offsets, data


def _encode_str_chunk(
    col: pa.Array, out: bytearray, encodings: dict[str, int]
) -> None:
    """Strings for one row-group chunk: optional chunk dictionary + per-vector
    packed indices (dictionary_kernel.hpp layout) or uncompressed offsets.
    Nulls encode as empty strings. The dictionary is the distinct values in
    byte order (Arrow sorts strings bytewise) and its codes come from one
    Arrow lookup; plain vectors are slices of the Arrow buffers."""
    import pyarrow.compute as pc

    filled = col.fill_null("")
    offsets, data = _str_buffers(filled)
    n_vals = len(filled)
    uniq = pc.unique(filled)
    uniq = uniq.take(pc.sort_indices(uniq))
    # a dictionary only pays when keys actually repeat — at ≥50% distinct
    # the key blob + codes exceed the plain layout, and FSST (below) is
    # the right tool for unique-but-compressible text
    use_dict = len(uniq) <= max(4096, n_vals // 4) and len(uniq) <= n_vals // 2
    use_fsst = False
    if not use_dict:
        # high-cardinality strings: try a chunk-shared FSST symbol table
        # (fsst_dict_kernel.hpp builds the table once in Prepare and
        # decodes per vector — same sharing geometry). The table is built
        # from a bounded sample and kept only when the measured sample
        # compression pays ≥15%, so incompressible chunks stay UNCOMP.
        sample = data[offsets[0] : min(offsets[-1], offsets[0] + 65536)].tobytes()
        if len(sample) >= 1024:
            fsst_table = K.fsst_build_table(sample)
            fsst_enc = K.fsst_encoder(fsst_table)
            if len(fsst_enc(sample)) <= 0.85 * len(sample):
                use_fsst = True
    out += struct.pack(
        "<B", _STR_FSST if use_fsst else (_STR_DICT if use_dict else _STR_PLAIN)
    )
    if use_dict:
        koffsets, kdata = _str_buffers(uniq)
        kblob = kdata[koffsets[0] : koffsets[-1]].tobytes()
        kbounds = koffsets - koffsets[0]
        out += struct.pack("<I", len(uniq))
        out += kbounds[1:].astype(np.uint32).tobytes()
        out += struct.pack("<Q", len(kblob))
        out += kblob
        codes = np.asarray(pc.index_in(filled, value_set=uniq)).astype(np.uint64)
        w = int(len(uniq) - 1).bit_length()
    elif use_fsst:
        ends, blob = K.dict_offsets_bytes(fsst_table)
        out += struct.pack("<H", len(fsst_table))
        out += ends.astype(np.uint32).tobytes()
        out += struct.pack("<Q", len(blob))
        out += blob
        vals = filled.cast(
            pa.large_binary() if pa.types.is_large_string(filled.type) else pa.binary()
        ).to_pylist()
    valid_all = _valid_mask(col)
    for start in range(0, n_vals, VEC_SZ):
        n = min(VEC_SZ, n_vals - start)
        mask = None
        if valid_all is not None:
            m = valid_all[start : start + n]
            if not m.all():
                mask = m
        body = bytearray()
        if use_dict:
            cvec = codes[start : start + n]
            if n and (cvec == cvec[0]).all():
                enc = ENC_CONSTANT
                i = int(cvec[0])
                k = kblob[kbounds[i] : kbounds[i + 1]]
                body += struct.pack("<I", len(k))
                body += k
            else:
                enc = ENC_DICT
                body += struct.pack("<B", w)
                body += K.pack_bits(cvec, w)
        else:
            o = offsets[start : start + n + 1]
            ends = (o[1:] - o[0]).astype(np.uint32).tobytes()
            blob_len = int(o[-1] - o[0])
            # FSST: per-string encode, concatenated; decoded end-offsets
            # ride along so one bulk decode per vector splits back into
            # strings. The chunk-level table was chosen from a 64 KiB head
            # sample; a vector past the sampled region can expand
            # (unmatched bytes become 2-byte escape pairs), so compare the
            # measured FSST body against the plain layout per vector and
            # fall back to ENC_UNCOMP when FSST loses (the reader already
            # accepts mixed vectors under _STR_FSST — table stays in the
            # chunk header).
            code = (
                b"".join(map(fsst_enc, vals[start : start + n])) if use_fsst else None
            )
            body += ends
            if code is not None and len(code) < blob_len:
                enc = ENC_FSST
                body += struct.pack("<Q", len(code))
                body += code
            else:
                enc = ENC_UNCOMP
                body += struct.pack("<Q", blob_len)
                body += data[o[0] : o[-1]].tobytes()
        _write_vec_header(out, enc, n, mask)
        out += body
        encodings[ENC_NAMES[enc]] = encodings.get(ENC_NAMES[enc], 0) + 1


def _write_vec_header(out: bytearray, enc: int, n: int, mask: np.ndarray | None) -> None:
    out += struct.pack("<BHB", enc, n, 1 if mask is not None else 0)
    if mask is not None:
        out += np.packbits(mask, bitorder="little").tobytes()


def _encode_chunk(
    col: pa.Array, ltype: str, out: bytearray
) -> tuple[dict[str, int], dict]:
    """Encode one column's row-group chunk; returns (encoding histogram,
    stats {min,max,null_count})."""
    encodings: dict[str, int] = {}
    null_count = col.null_count
    stats: dict = {"null_count": int(null_count)}
    if ltype == "str":
        _encode_str_chunk(col, out, encodings)
        return encodings, stats

    out += struct.pack("<B", 0)  # numeric chunks carry no dictionary
    int_backed = _TYPES[ltype][1]
    if int_backed:
        c = col
        if ltype == "date32":
            c = c.cast(pa.int32())
        elif ltype == "timestamp_us":
            c = c.cast(pa.timestamp("us")) if c.type != pa.timestamp("us") else c
            c = c.cast(pa.int64())
        elif ltype == "bool":
            c = c.cast(pa.uint8())
        np_all = np.asarray(c.cast(pa.int64()).fill_null(0))
    else:
        np_all = np.asarray(col.cast(pa.float64()).fill_null(np.nan))
    valid_all = _valid_mask(col)
    vv = np_all if valid_all is None else np_all[valid_all]
    if len(vv):
        if int_backed:
            stats["min"], stats["max"] = int(vv.min()), int(vv.max())
        else:
            fin = vv[np.isfinite(vv)]
            if len(fin):
                stats["min"], stats["max"] = float(fin.min()), float(fin.max())
    ef = K.alp_choose(vv if len(vv) else np_all) if not int_backed else None

    for start in range(0, len(np_all), VEC_SZ):
        v = np_all[start : start + VEC_SZ].copy()
        n = len(v)
        mask = None
        if valid_all is not None:
            m = valid_all[start : start + n]
            if not m.all():
                mask = m
                # null slots: encode the first valid value (free placeholder,
                # constant_kernel-style) so widths stay tight
                if m.any():
                    v[~m] = v[m][0]
        body = bytearray()
        enc = (
            _encode_int_vector(v, body)
            if int_backed
            else _encode_float_vector(v, ef, body)
        )
        _write_vec_header(out, enc, n, mask)
        out += body
        encodings[ENC_NAMES[enc]] = encodings.get(ENC_NAMES[enc], 0) + 1
    return encodings, stats


def write_table(
    tbl: pa.Table, path: str, row_group_size: int = DEFAULT_ROW_GROUP_SIZE
) -> dict:
    """Encode one Arrow table into one ``.fls`` file; returns the footer."""
    if row_group_size % VEC_SZ:
        raise ValueError(f"row_group_size must be a multiple of {VEC_SZ}")
    tbl = tbl.combine_chunks()
    logical = [(f.name, _logical_type(f.type)) for f in tbl.schema]
    row_groups = []
    with open(path, "wb") as f:
        f.write(MAGIC)
        pos = len(MAGIC)
        for start in range(0, max(tbl.num_rows, 1), row_group_size):
            n = min(row_group_size, tbl.num_rows - start)
            if n <= 0 and tbl.num_rows > 0:
                break
            cols_meta = []
            for (name, ltype) in logical:
                col = tbl.column(name).slice(start, n).combine_chunks()
                if isinstance(col, pa.ChunkedArray):
                    col = col.chunk(0) if col.num_chunks else pa.array([], col.type)
                buf = bytearray()
                encodings, stats = _encode_chunk(col, ltype, buf)
                f.write(buf)
                cols_meta.append(
                    {"offset": pos, "length": len(buf), "encodings": encodings, **stats}
                )
                pos += len(buf)
            row_groups.append({"n_rows": int(n), "columns": cols_meta})
            if tbl.num_rows == 0:
                break
        footer = {
            "version": 1,
            "n_rows": int(tbl.num_rows),
            "schema": [{"name": n, "type": t} for n, t in logical],
            "row_groups": row_groups,
        }
        fb = zlib.compress(json.dumps(footer).encode("utf-8"))
        f.write(fb)
        f.write(struct.pack("<I", len(fb)))
        f.write(MAGIC)
    return footer


# ======================================================================== read
def read_footer(path: str) -> dict:
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        end = f.tell()
        f.seek(end - 12)
        flen, magic = struct.unpack("<I8s", f.read(12))
        if magic != MAGIC:
            raise ValueError(f"{path}: not an fls_native file (bad trailing magic)")
        f.seek(end - 12 - flen)
        return json.loads(zlib.decompress(f.read(flen)))


def _read_vec_header(buf: memoryview, p: int) -> tuple[int, int, np.ndarray | None, int]:
    enc, n, has_nulls = struct.unpack_from("<BHB", buf, p)
    p += 4
    mask = None
    if has_nulls:
        nb = (n + 7) // 8
        mask = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8, count=nb, offset=p), bitorder="little"
        )[:n].astype(bool)
        p += nb
    return enc, n, mask, p


def _str_array_from_offsets(ends: np.ndarray, blob: bytes) -> pa.Array:
    """Zero-copy Arrow utf8 array from (end-offset uint32 array, byte blob)
    — the dictionary_kernel.hpp offsets walk done buffer-wise: Arrow's
    variable-length layout IS (offsets with leading 0, data), so the stored
    segment maps onto it without per-string Python work."""
    n = len(ends)
    offsets = np.empty(n + 1, dtype=np.int32)
    offsets[0] = 0
    offsets[1:] = ends
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)
    )


def _decode_chunk(buf: memoryview, ltype: str, n_rows: int) -> pa.Array:
    """Decode one column chunk back to an Arrow array of the logical type."""
    p = 0
    (str_mode,) = struct.unpack_from("<B", buf, p)
    p += 1
    dict_arr: pa.Array | None = None
    fsst_table: list[bytes] = []
    if str_mode == _STR_DICT:
        (n_keys,) = struct.unpack_from("<I", buf, p)
        p += 4
        ends = np.frombuffer(buf, dtype=np.uint32, count=n_keys, offset=p)
        p += 4 * n_keys
        (blob_len,) = struct.unpack_from("<Q", buf, p)
        p += 8
        dict_arr = _str_array_from_offsets(ends, bytes(buf[p : p + blob_len]))
        p += blob_len
    elif str_mode == _STR_FSST:
        (n_sym,) = struct.unpack_from("<H", buf, p)
        p += 2
        ends = np.frombuffer(buf, dtype=np.uint32, count=n_sym, offset=p)
        p += 4 * n_sym
        (blob_len,) = struct.unpack_from("<Q", buf, p)
        p += 8
        fsst_table = K.strings_from_offsets(ends, bytes(buf[p : p + blob_len]))
        p += blob_len

    int_backed = ltype != "str" and _TYPES[ltype][1]
    out_int: list[np.ndarray] = []
    out_str: list[pa.Array] = []
    masks: list[np.ndarray | None] = []
    lens: list[int] = []
    got = 0
    while got < n_rows:
        enc, n, mask, p = _read_vec_header(buf, p)
        masks.append(mask)
        lens.append(n)
        if ltype == "str":
            # every branch yields a vectorized Arrow array — dictionary
            # gathers and offset walks run in Arrow C++, not Python loops
            if enc == ENC_CONSTANT:
                (klen,) = struct.unpack_from("<I", buf, p)
                p += 4
                k = bytes(buf[p : p + klen])
                p += klen
                const_dict = pa.array([k.decode("utf-8")], pa.string())
                out_str.append(
                    pa.DictionaryArray.from_arrays(
                        pa.array(np.zeros(n, dtype=np.int32)), const_dict
                    ).cast(pa.string())
                )
            elif enc == ENC_DICT:
                (w,) = struct.unpack_from("<B", buf, p)
                p += 1
                nb = ((n * w + 63) // 64) * 8 if w else 0
                codes = K.unpack_bits(bytes(buf[p : p + nb]), w, n)
                p += nb
                out_str.append(
                    pa.DictionaryArray.from_arrays(
                        pa.array(codes.astype(np.int32)), dict_arr
                    ).cast(pa.string())
                )
            elif enc == ENC_FSST:
                ends = np.frombuffer(buf, dtype=np.uint32, count=n, offset=p)
                p += 4 * n
                (code_len,) = struct.unpack_from("<Q", buf, p)
                p += 8
                blob = K.fsst_decode(bytes(buf[p : p + code_len]), fsst_table)
                p += code_len
                out_str.append(_str_array_from_offsets(ends, blob))
            else:  # ENC_UNCOMP
                ends = np.frombuffer(buf, dtype=np.uint32, count=n, offset=p)
                p += 4 * n
                (blob_len,) = struct.unpack_from("<Q", buf, p)
                p += 8
                out_str.append(
                    _str_array_from_offsets(ends, bytes(buf[p : p + blob_len]))
                )
                p += blob_len
        elif int_backed:
            if enc == ENC_CONSTANT:
                (val,) = struct.unpack_from("<q", buf, p)
                p += 8
                out_int.append(np.full(n, val, dtype=np.int64))
            elif enc == ENC_RLE:
                (n_runs,) = struct.unpack_from("<H", buf, p)
                p += 2
                runs = np.frombuffer(buf, dtype=np.int64, count=n_runs, offset=p)
                p += 8 * n_runs
                (w,) = struct.unpack_from("<B", buf, p)
                p += 1
                nb = ((n * w + 63) // 64) * 8 if w else 0
                idxs = K.unpack_bits(bytes(buf[p : p + nb]), w, n)
                p += nb
                out_int.append(K.rle_decode(runs, idxs))
            elif enc == ENC_FREQ:
                top, n_exc = struct.unpack_from("<qH", buf, p)
                p += 10
                exc_pos = np.frombuffer(buf, dtype=np.uint16, count=n_exc, offset=p)
                p += 2 * n_exc
                exc_vals = np.frombuffer(buf, dtype=np.int64, count=n_exc, offset=p)
                p += 8 * n_exc
                out_int.append(K.freq_decode(top, exc_pos, exc_vals, n))
            elif enc == ENC_SLPATCH:
                base, w = struct.unpack_from("<qB", buf, p)
                p += 9
                nb = ((n * w + 63) // 64) * 8 if w else 0
                payload = bytes(buf[p : p + nb])
                p += nb
                (n_exc,) = struct.unpack_from("<H", buf, p)
                p += 2
                exc_pos = np.frombuffer(buf, dtype=np.uint16, count=n_exc, offset=p)
                p += 2 * n_exc
                exc_vals = np.frombuffer(buf, dtype=np.int64, count=n_exc, offset=p)
                p += 8 * n_exc
                out_int.append(K.slpatch_decode(base, w, payload, n, exc_pos, exc_vals))
            else:  # ENC_FFOR
                base, w = struct.unpack_from("<qB", buf, p)
                p += 9
                nb = ((n * w + 63) // 64) * 8 if w else 0
                out_int.append(K.ffor_decode(base, w, bytes(buf[p : p + nb]), n))
                p += nb
        else:  # float
            if enc == ENC_CONSTANT:
                (val,) = struct.unpack_from("<d", buf, p)
                p += 8
                out_int.append(np.full(n, val, dtype=np.float64))
            elif enc == ENC_ALP:
                e, fexp, base, w = struct.unpack_from("<BBqB", buf, p)
                p += 11
                nb = ((n * w + 63) // 64) * 8 if w else 0
                ints = K.ffor_decode(base, w, bytes(buf[p : p + nb]), n)
                p += nb
                (n_exc,) = struct.unpack_from("<H", buf, p)
                p += 2
                exc_pos = np.frombuffer(buf, dtype=np.uint16, count=n_exc, offset=p)
                p += 2 * n_exc
                exc_vals = np.frombuffer(buf, dtype=np.float64, count=n_exc, offset=p)
                p += 8 * n_exc
                out_int.append(K.alp_decode(ints, e, fexp, exc_pos, exc_vals))
            else:  # ENC_UNCOMP
                out_int.append(np.frombuffer(buf, dtype=np.float64, count=n, offset=p))
                p += 8 * n
        got += n

    valid = None
    if any(m is not None for m in masks):
        parts = [
            m if m is not None else np.ones(ln, dtype=bool)
            for m, ln in zip(masks, lens)
        ]
        valid = np.concatenate(parts)

    atype = _TYPES[ltype][0]
    if ltype == "str":
        if not out_str:
            return pa.array([], pa.string())
        flat = pa.concat_arrays(out_str) if len(out_str) != 1 else out_str[0]
        if valid is not None:
            import pyarrow.compute as pc

            flat = pc.if_else(
                pa.array(valid), flat, pa.scalar(None, pa.string())
            )
        return flat
    vals = np.concatenate(out_int) if out_int else np.zeros(0)
    if ltype in ("float32", "float64"):
        arr = pa.array(vals, type=pa.float64(), mask=None if valid is None else ~valid)
        return arr.cast(atype)
    arr = pa.array(
        vals.astype(np.int64), type=pa.int64(), mask=None if valid is None else ~valid
    )
    if ltype == "date32":
        return arr.cast(pa.int32()).cast(atype)
    if ltype == "bool":
        return arr.cast(pa.uint8()).cast(atype)
    return arr.cast(atype)


Predicate = tuple[str, str, object]


def _rg_survives(rg: dict, schema: list[dict], preds: Sequence[Predicate]) -> bool:
    """Conservative zone-map check: prune only when stats PROVE emptiness
    (row_group_filter.cpp:75-199 semantics — missing stats never prune)."""
    by_name = {c["name"]: i for i, c in enumerate(schema)}
    for col, op, val in preds:
        i = by_name.get(col)
        if i is None:
            continue
        meta = rg["columns"][i]
        lo, hi = meta.get("min"), meta.get("max")
        if lo is None or hi is None:
            continue
        if op in ("=", "==") and (val < lo or val > hi):
            return False
        if op in (">",) and hi <= val:
            return False
        if op in (">=",) and hi < val:
            return False
        if op in ("<",) and lo >= val:
            return False
        if op in ("<=",) and lo > val:
            return False
    return True


def read_file(
    path: str,
    columns: Sequence[str] | None = None,
    predicate: Sequence[Predicate] = (),
) -> Iterator[pa.RecordBatch]:
    """Decode one file → RecordBatches (one per surviving row group)."""
    footer = read_footer(path)
    schema = footer["schema"]
    names = [c["name"] for c in schema]
    want = list(columns) if columns is not None else names
    idx = {n: i for i, n in enumerate(names)}
    ltypes = {c["name"]: c["type"] for c in schema}
    out_schema = arrow_schema([(n, ltypes[n]) for n in want])
    with open(path, "rb") as f:
        data = memoryview(f.read())
    for rg in footer["row_groups"]:
        if not _rg_survives(rg, schema, predicate):
            continue
        arrays = []
        for n in want:
            meta = rg["columns"][idx[n]]
            chunk = data[meta["offset"] : meta["offset"] + meta["length"]]
            arrays.append(_decode_chunk(chunk, ltypes[n], rg["n_rows"]))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


# ============================================================ adaptive filter
#: predicate op → pyarrow.compute kernel (null comparisons yield null →
#: filled False below, the SQL semantics)
def _pc_op(op: str):
    import pyarrow.compute as pc

    return {
        "=": pc.equal,
        "==": pc.equal,
        "!=": pc.not_equal,
        ">": pc.greater,
        ">=": pc.greater_equal,
        "<": pc.less,
        "<=": pc.less_equal,
    }[op]


def read_file_adaptive(
    path: str,
    columns: Sequence[str] | None = None,
    predicate: Sequence[Predicate] = (),
    stats: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    """A6 — ADAPTIVE FILTER ORDERING, the literal twin of the reference's
    runtime filter executor (src/reader/fls_reader.cpp:357-380,
    filter_executor.cpp:38-55): predicates are evaluated per 1024-value
    vector in an order re-ranked by OBSERVED selectivity (running
    pass-fraction over alive rows, most selective first), short-circuiting
    a vector as soon as its survivor set is empty — later predicates in
    the order never run on the rows an earlier one killed. Payload
    (non-predicate) columns are decoded only for row groups with ≥1
    surviving row, and only surviving rows are materialized into the
    output batch (the reference's late-materialization payoff at row-group
    granularity). Zone-map pruning (_rg_survives) still runs first — the
    adaptive order governs what happens INSIDE groups the stats cannot
    prune.

    Returns filtered batches (the predicate is EXACT for columns present
    in the file; predicates on columns ABSENT from this file's schema are
    skipped — the same conservative contract _rg_survives uses — so a
    multi-file dataset with divergent schemas degrades instead of
    crashing). ``stats``, when given, is filled only AFTER the generator
    is fully exhausted (final predicate order and per-predicate
    (passed, seen) counters); a caller that breaks early sees an empty
    dict."""
    footer = read_footer(path)
    schema = footer["schema"]
    names = [c["name"] for c in schema]
    want = list(columns) if columns is not None else names
    idx = {n: i for i, n in enumerate(names)}
    ltypes = {c["name"]: c["type"] for c in schema}
    out_schema = arrow_schema([(n, ltypes[n]) for n in want])
    preds = [p for p in predicate if p[0] in idx]
    if predicate and not preds:
        # every predicate column is absent from this file: on a multi-file
        # dataset that is the documented degrade; on a single file it is
        # almost certainly a typo — make it loud either way
        import warnings

        warnings.warn(
            f"read_file_adaptive({os.path.basename(path)}): no predicate "
            f"column {sorted({p[0] for p in predicate})} exists in the file "
            "schema; returning unfiltered rows",
            stacklevel=2,
        )
    pred_cols = [c for c, _, _ in preds]
    # evaluation order state: index into preds; passed/seen counters
    order = list(range(len(preds)))
    passed = [0] * len(preds)
    seen = [0] * len(preds)
    with open(path, "rb") as f:
        data = memoryview(f.read())
    import pyarrow.compute as pc

    for rg in footer["row_groups"]:
        if not _rg_survives(rg, schema, preds):
            continue
        n_rows = rg["n_rows"]
        # decode ONLY the predicate columns up front
        dec: dict[str, pa.Array] = {}
        for n in dict.fromkeys(pred_cols):
            meta = rg["columns"][idx[n]]
            chunk = data[meta["offset"] : meta["offset"] + meta["length"]]
            dec[n] = _decode_chunk(chunk, ltypes[n], n_rows)
        keep_parts: list[pa.Array] = []
        any_alive = False
        for s in range(0, n_rows, 1024):
            ln = min(1024, n_rows - s)
            mask = None  # None = all alive
            alive = ln
            # re-rank by observed pass-fraction before every vector: the
            # most selective predicate (lowest pass rate) runs first, the
            # reference's re-ranking policy at vector cadence
            order.sort(key=lambda i: (passed[i] + 1) / (seen[i] + 2))
            for i in order:
                if alive == 0:
                    break  # short-circuit: nothing left for this filter
                col, op, val = preds[i]
                sl = dec[col].slice(s, ln)
                m = pc.fill_null(_pc_op(op)(sl, pa.scalar(val)), False)
                seen[i] += alive
                mask = m if mask is None else pc.and_(mask, m)
                alive = pc.sum(mask).as_py() or 0
                passed[i] += alive
            if mask is None:
                mask = pa.array(np.ones(ln, dtype=bool))
            keep_parts.append(mask)
            any_alive = any_alive or alive > 0
        if not any_alive:
            continue  # payload columns never decoded for this group
        keep = pa.concat_arrays([m.combine_chunks() if isinstance(m, pa.ChunkedArray) else m for m in keep_parts])
        arrays = []
        for n in want:
            if n in dec:
                arr = dec[n]
            else:
                meta = rg["columns"][idx[n]]
                chunk = data[meta["offset"] : meta["offset"] + meta["length"]]
                arr = _decode_chunk(chunk, ltypes[n], n_rows)
            arrays.append(arr.filter(keep))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)
    if stats is not None:
        stats["order"] = [preds[i] for i in order]
        stats["passed"] = list(passed)
        stats["seen"] = list(seen)
        # surface the degrade case: predicates whose column this file does
        # not carry were skipped (multi-file schema divergence is the
        # intended tolerance; a typo'd column on a single-file read is the
        # caller's bug) — record them so callers/tests can tell an
        # entirely-unmatched predicate from a clean exact filter
        stats["skipped_predicates"] = [p for p in predicate if p[0] not in idx]


# ============================================================ spark integration
def write_fls_native(
    df, path: str, row_group_size: int = DEFAULT_ROW_GROUP_SIZE, mode: str = "overwrite"
) -> None:
    """Distributed write: each partition encodes itself into one ``.fls``
    file under ``path`` (mapInArrow — no shuffle, no driver materialization;
    the directory is the dataset, same contract as every file sink)."""
    os.makedirs(path, exist_ok=True)
    if mode == "overwrite":
        for fn in os.listdir(path):
            if fn.endswith(".fls"):
                os.remove(os.path.join(path, fn))

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        rows = list(batches)
        summary = pa.schema([("file", pa.string()), ("rows", pa.int64())])
        if not rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.int64())], schema=summary
            )
            return
        tbl = pa.Table.from_batches(rows)
        # unique suffix so mode="append" generations never collide on
        # partition id (overwrite mode clears the directory anyway)
        import uuid

        out = os.path.join(path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.fls")
        write_table(tbl, out, row_group_size=row_group_size)
        yield pa.RecordBatch.from_arrays(
            [pa.array([out]), pa.array([tbl.num_rows], pa.int64())], schema=summary
        )

    landed = df.mapInArrow(encode_partition, "file string, rows long").collect()
    if not landed:
        # an all-empty input writes no partition files; land ONE footer-only
        # file driver-side so THIS write's schema still reaches the dataset
        # (append-mode generations included — schema evolution must see an
        # empty generation's columns) and the reader can type an empty
        # table (write_table already supports n_rows=0 footers).
        # In append mode, skip the fallback when an existing .fls already
        # carries every incoming column — repeated empty appends would
        # otherwise accumulate footer-only files that every later read must
        # open (r8 ADVICE); a footer whose schema is missing one of our
        # columns still needs this generation for schema evolution.
        empty_tbl = df.limit(0).toArrow()
        incoming = {f.name: _logical_type(f.type) for f in empty_tbl.schema}
        if mode == "append":
            # skip only when a footer already carries every incoming column
            # AT a type the incoming one promotes into unchanged — a name
            # match alone would silently drop an empty generation that
            # widens a column's type (r9 ADVICE), defeating promote_ltype's
            # schema-evolution purpose.
            for fn in os.listdir(path):
                if fn.endswith(".fls"):
                    have = {
                        c["name"]: c["type"]
                        for c in read_footer(os.path.join(path, fn))["schema"]
                    }
                    def _absorbed(n: str, t: str) -> bool:
                        if n not in have:
                            return False
                        try:
                            return promote_ltype(have[n], t) == have[n]
                        except TypeError:
                            # incompatible — land the generation so the
                            # read-side union surfaces the conflict
                            return False

                    if all(_absorbed(n, t) for n, t in incoming.items()):
                        return
        import uuid

        write_table(
            empty_tbl,
            os.path.join(path, f"part-empty-{uuid.uuid4().hex[:8]}.fls"),
            row_group_size=row_group_size,
        )


#: logical-type promotion lattice — the reference's SchemaBuilder::PromoteType
#: (src/reader/schema_builder.cpp:132-243) over fls_native's logical types:
#: int widening by rank, float widening, int⊔float→float64, ⊔str→str,
#: date32⊔timestamp_us→timestamp_us, bool⊔int→int
_INT_ORDER = ["bool", "int8", "int16", "int32", "int64"]


def promote_ltype(a: str, b: str) -> str:
    if a == b:
        return a
    if "str" in (a, b):
        return "str"
    if a in _INT_ORDER and b in _INT_ORDER:
        return a if _INT_ORDER.index(a) >= _INT_ORDER.index(b) else b
    floats = {"float32", "float64"}
    if a in floats and b in floats:
        return "float64"
    if (a in _INT_ORDER and b in floats) or (a in floats and b in _INT_ORDER):
        return "float64"
    if {a, b} == {"date32", "timestamp_us"}:
        return "timestamp_us"
    raise TypeError(f"fls_native: cannot promote {a} ⊔ {b}")


def _union_schema(footers: list[dict]) -> list[tuple[str, str]]:
    """Union-by-name + promotion over file schemas, in first-seen order."""
    order: list[str] = []
    types: dict[str, str] = {}
    for ftr in footers:
        for c in ftr["schema"]:
            n, t = c["name"], c["type"]
            if n not in types:
                order.append(n)
                types[n] = t
            else:
                types[n] = promote_ltype(types[n], t)
    return [(n, types[n]) for n in order]


def read_fls_native(
    spark,
    path: str,
    columns: Sequence[str] | None = None,
    predicate: Sequence[Predicate] = (),
    union_by_name: bool = False,
    adaptive_filter: bool = False,
):
    """Distributed read: parallelize the file list, decode per task.

    ``columns`` = projection pushdown (only those chunks are decoded);
    ``predicate`` = zone-map row-group pruning (conservative; Spark-side
    filters still apply afterwards, same division of labor as Parquet);
    ``adaptive_filter`` = additionally EXECUTE the predicates inside the
    reader with selectivity-adapted ordering and short-circuit per
    1024-value vector (A6, read_file_adaptive) — the returned rows then
    satisfy the predicate exactly and payload columns decode only for
    surviving row groups (not combinable with union_by_name);
    ``union_by_name`` = align heterogeneous file schemas by column name
    with the reference's type-promotion rules (A2/A3,
    fls_multi_file_info.cpp:70-82 + schema_builder.cpp:132-243): missing
    columns NULL-fill, narrower types widen per the promotion lattice.
    Without it the first file's schema is authoritative (files with a
    different schema fail decode, same as the reference's strict mode)."""
    files = sorted(
        os.path.join(path, fn) for fn in os.listdir(path) if fn.endswith(".fls")
    )
    if not files:
        raise FileNotFoundError(f"no .fls files under {path}")
    if union_by_name:
        logical = _union_schema([read_footer(f) for f in files])
    else:
        footer = read_footer(files[0])
        logical = [(c["name"], c["type"]) for c in footer["schema"]]
    ltypes = dict(logical)
    want = list(columns) if columns is not None else [n for n, _ in logical]
    out_schema = arrow_schema([(n, ltypes[n]) for n in want])
    ddl = ", ".join(f"`{n}` {_SPARK_DDL[ltypes[n]]}" for n in want)
    preds = list(predicate)
    want_t = tuple(want)

    if adaptive_filter and union_by_name:
        raise ValueError("adaptive_filter does not combine with union_by_name")

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from duckdb_fastlanes_spark.io.fls_native import read_file as _rf
        from duckdb_fastlanes_spark.io.fls_native import (
            read_file_adaptive as _rfa,
        )

        for b in batches:
            for fp in b.column(0).to_pylist():
                if not union_by_name:
                    if adaptive_filter:
                        yield from _rfa(fp, columns=want_t, predicate=preds)
                    else:
                        yield from _rf(fp, columns=want_t, predicate=preds)
                    continue
                # per-file: decode the columns the file has, widen to the
                # promoted type, NULL-fill the absent ones
                have = {c["name"] for c in read_footer(fp)["schema"]}
                cols = tuple(n for n in want_t if n in have)
                for rb in _rf(fp, columns=cols, predicate=preds):
                    n_rows = rb.num_rows
                    arrays = []
                    for name in want_t:
                        t = out_schema.field(name).type
                        if name in have:
                            arr = rb.column(cols.index(name))
                            arrays.append(
                                arr if arr.type == t else arr.cast(t)
                            )
                        else:
                            arrays.append(pa.nulls(n_rows, t))
                    yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    # typed VALUES LocalRelation for the file list: createDataFrame(list)
    # is a Python-RDD-backed relation whose every execution spins Python
    # worker tasks just to emit the paths. Its LocalTableScan already
    # slices the list into min(files, defaultParallelism) partitions, so
    # the decode tasks read it in place — no shuffle
    from duckdb_fastlanes_spark.catalog import values_df

    files_df = values_df(spark, [(f,) for f in files], "path string")
    return files_df.mapInArrow(decode, ddl)


_SPARK_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "bool": "boolean",
    "date32": "date",
    "timestamp_us": "timestamp",
    "float32": "float",
    "float64": "double",
    "str": "string",
}
