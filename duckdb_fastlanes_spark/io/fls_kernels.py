"""FastLanes vector codecs in vectorized NumPy — the decode-kernel family the
reference materializes through (SURVEY.md §2.A′), reimplemented from the
published model rather than bound to the vendored C++.

Reference parity map (every kernel is the semantic twin of a materializer
kernel header in the reference — the byte-level segment framing lives in the
un-vendored external FastLanes library, see fls_native.py module docstring):

- FFOR (frame-of-reference + bit-packing over 1024-value vectors)
  → ``ffor_encode`` / ``ffor_decode``
  (src/include/reader/materializer/kernels/unffor_kernel.hpp:7-30; the
  FastLanes layout paper's FOR+BP over VEC_SZ=1024)
- Dictionary (per-chunk key array + packed per-vector indices; string dicts
  as end-offset array + byte blob, exactly the offsets walk in
  kernels/dictionary_kernel.hpp:60-78) → ``dict_offsets_bytes`` /
  ``strings_from_offsets``
- Constant vector (kernels/constant_kernel.hpp:11-52) → ``ENC_CONSTANT``
  in fls_native.py (a single stored value broadcast to the vector)
- RLE as index-mapped runs: run-value array + per-position run index
  (kernels/rle_map_kernel.hpp:7-24 decodes ``rle_vals[idxs[i]]``)
  → ``rle_encode`` / ``rle_decode``
- ALP for doubles/floats: decimal-scaled integers + patched exceptions
  (kernels/alp_kernel.hpp; published ALP scheme: enc = round(v·10^e/10^f),
  dec = enc·10^f/10^e, out-of-domain values patched positionally)
  → ``alp_encode`` / ``alp_decode``
- Uncompressed (kernels/uncompressed_kernel.hpp) → raw little-endian
- FSST (symbol-table string compression, ≤255 symbols of 1-8 bytes +
  escape byte; kernels/fsst_kernel.hpp:11-59, fsst_dict_kernel.hpp:18-80;
  published FSST scheme) → ``fsst_build_table`` / ``fsst_encoder`` /
  ``fsst_encode`` / ``fsst_decode`` — table built by the paper's iterative
  greedy refinement, shared per chunk like the reference's per-segment
  table
- Frequency (one frequent value + exception positions/values;
  kernels/frequency_kernel.hpp:8-69) → ``freq_encode`` / ``freq_decode``
- SLPatch (patched FFOR: bulk-width bit-packing + exception patching;
  kernels/slpatch_kernel.hpp:8-31) → ``slpatch_encode`` /
  ``slpatch_decode``

All functions operate on one logical vector of ``VEC_SZ`` = 1024 values
(the reference's CFG::VEC_SZ; tail vectors are shorter). Packing is dense
little-endian W-bit fields; the C++ kernels use the interleaved transposed
layout for SIMD decode speed, which is a physical permutation with identical
information content — NumPy decodes whole vectors at once either way, so the
dense layout is the idiomatic equivalent, and it is what our writer frames.
"""

from __future__ import annotations

import numpy as np

#: FastLanes vector size (reference CFG::VEC_SZ / fls_writer.hpp:12-22)
VEC_SZ = 1024

_U64 = np.uint64


# ---------------------------------------------------------------- bit packing
def pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack ``vals`` (uint64 array, each < 2**width) into dense little-endian
    ``width``-bit fields: value i occupies bits [i*width, (i+1)*width) of
    the stream, zero-padded to whole 64-bit words. width == 0 → empty
    payload (all values are 0). The ``width`` low bits of each value,
    unpacked LSB-first from its little-endian bytes and packed back
    row-major, are exactly that stream."""
    if width == 0:
        return b""
    v = np.ascontiguousarray(vals, dtype="<u8")
    bits = np.unpackbits(
        v.view(np.uint8).reshape(len(v), 8), axis=1, count=width, bitorder="little"
    )
    packed = np.packbits(bits, bitorder="little")
    return packed.tobytes() + bytes(-len(packed) % 8)


def unpack_bits(buf: bytes, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack_bits`: n ``width``-bit fields → uint64 array."""
    if width == 0:
        return np.zeros(n, dtype=_U64)
    words = np.frombuffer(buf, dtype=_U64)
    bitpos = np.arange(n, dtype=_U64) * _U64(width)
    word = (bitpos >> _U64(6)).astype(np.int64)
    off = bitpos & _U64(63)
    lo = words[word] >> off
    # guard the word+1 gather at the buffer edge and the off==0 shift-by-64
    nxt = np.minimum(word + 1, len(words) - 1)
    hi = np.where(off > _U64(0), words[nxt] << (_U64(64) - np.maximum(off, _U64(1))), _U64(0))
    mask = _U64(0xFFFFFFFFFFFFFFFF) if width == 64 else _U64((1 << width) - 1)
    return (lo | hi) & mask


# ----------------------------------------------------------------------- FFOR
def _deltas(a: np.ndarray, base: int) -> np.ndarray:
    """``a - base`` as uint64; wraps correctly for the full int64 domain
    (every delta of a vector against its own minimum is in [0, 2**64))."""
    return a.astype(_U64) - _U64(base & 0xFFFFFFFFFFFFFFFF)


def ffor_encode(arr: np.ndarray) -> tuple[int, int, bytes]:
    """Frame-of-reference + bit-pack one integer vector.

    Returns ``(base, width, payload)``: base = min value (the frame),
    width = bits needed for max(value - base), payload = packed deltas.
    Signed inputs are handled by the signed base subtraction — deltas are
    always non-negative (unffor_kernel.hpp reinterprets to the signed view
    after the unsigned unpack+add, same algebra)."""
    a = arr.astype(np.int64, copy=False)
    if not len(a):
        return 0, 0, b""
    base = int(a.min())
    width = (int(a.max()) - base).bit_length()
    return base, width, pack_bits(_deltas(a, base), width)


def ffor_decode(base: int, width: int, payload: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`ffor_encode` → int64 vector."""
    delta = unpack_bits(payload, width, n)
    return (delta + _U64(base & 0xFFFFFFFFFFFFFFFF)).astype(np.int64)


# ------------------------------------------------------------------------ RLE
def rle_encode(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index-mapped RLE: ``(run_values, idxs)`` with
    ``arr[i] == run_values[idxs[i]]`` — the exact decode contract of
    rle_map_kernel.hpp:18-23."""
    if len(arr) == 0:
        return arr[:0], np.zeros(0, dtype=_U64)
    change = np.empty(len(arr), dtype=bool)
    change[0] = True
    np.not_equal(arr[1:], arr[:-1], out=change[1:])
    idxs = np.cumsum(change) - 1
    return arr[change], idxs.astype(_U64)


def rle_decode(run_values: np.ndarray, idxs: np.ndarray) -> np.ndarray:
    return run_values[idxs.astype(np.int64)]


# ------------------------------------------------------------------------ ALP
#: candidate decimal exponents (ALP probes e ∈ [0..18], f ∈ [0..e])
_ALP_MAX_E = 18
_F10 = np.power(10.0, np.arange(_ALP_MAX_E + 1))
_IF10 = np.power(10.0, -np.arange(_ALP_MAX_E + 1).astype(np.float64))


def _alp_try(v: np.ndarray, e: int, f: int) -> np.ndarray | None:
    """Integers i with v == i * 10^f / 10^e where representable, else None."""
    # overflow to inf is expected for large |v| at high e — those lanes are
    # rejected by the isfinite/magnitude gate and land on the exception path
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = v * _F10[e] * _IF10[f]
        # fastround trick domain: |scaled| must fit well inside 2^51
        ok = np.isfinite(scaled) & (np.abs(scaled) < 2.0**51)
        i = np.round(scaled)
        exact = ok & (i * _F10[f] * _IF10[e] == v)
    return np.where(exact, i, np.nan)


def alp_choose(v: np.ndarray, sample: int = 32) -> tuple[int, int]:
    """Pick (e, f) maximizing exact hits on a sample (the reference samples
    per row group and refines per vector; one-level sampling suffices here)."""
    s = v[:: max(1, len(v) // sample)][:sample]
    s = s[np.isfinite(s)]
    if len(s) == 0:
        return 0, 0
    best, best_hits = (0, 0), -1
    for e in range(_ALP_MAX_E + 1):
        for f in range(e + 1):
            t = _alp_try(s, e, f)
            hits = int(np.count_nonzero(~np.isnan(t)))
            if hits > best_hits:
                best, best_hits = (e, f), hits
            if hits == len(s):
                return e, f
    return best


def alp_encode(
    v: np.ndarray, e: int, f: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encode one double vector against (e, f).

    Returns ``(ints, exc_pos, exc_vals)``: ints = int64 encodings (exception
    slots hold the first valid int — the reference patches them after decode,
    so the placeholder value is free), exc_pos/exc_vals = positions + raw
    doubles of values the scheme cannot represent (inf/nan/irrational)."""
    t = _alp_try(v, e, f)
    # non-finite inputs (NaN != NaN) fail the exactness check, so they are
    # NaN in t and land on the exception path with every inexact value
    bad = np.isnan(t)
    # -0.0 == 0.0 passes the exactness check but would decode as +0.0,
    # losing the IEEE-754 sign bit — route it through the exception path
    # so the roundtrip stays BYTE-exact, not merely value-equal (matters
    # for hash/fingerprint parity on float columns)
    bad |= (v == 0) & np.signbit(v)
    exc_pos = np.flatnonzero(bad)
    exc_vals = v[exc_pos]
    fill = 0.0
    good = np.flatnonzero(~bad)
    if len(good):
        fill = t[good[0]]
    ints = np.where(bad, fill, t).astype(np.int64)
    return ints, exc_pos.astype(_U64), exc_vals


def alp_decode(
    ints: np.ndarray, e: int, f: int, exc_pos: np.ndarray, exc_vals: np.ndarray
) -> np.ndarray:
    out = ints.astype(np.float64) * _F10[f] * _IF10[e]
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals
    return out


# ----------------------------------------------------------------------- FSST
#: code 255 is the escape marker (next byte is a literal), so the symbol
#: table holds at most 255 entries of 1-8 bytes — the published FSST
#: geometry (kernels/fsst_kernel.hpp:11-59 decodes through the same
#: 255-symbol table + escape contract via fsst_decompress)
FSST_ESCAPE = 255
FSST_MAX_SYMBOLS = 255
FSST_MAX_SYMLEN = 8


def _fsst_pattern(table: list[bytes]):
    """Greedy longest-match tokenizer for a symbol table: a literal
    alternation ordered longest-first (regex alternation takes the first —
    here longest — literal that matches at the position), with a final
    any-byte fallback so the parse is total. Matching runs in the re
    engine (C), not per-byte Python."""
    import re

    parts = sorted(table, key=len, reverse=True)
    alts = b"|".join(re.escape(s) for s in parts)
    return re.compile((alts + b"|." if alts else b"."), re.DOTALL)


def fsst_build_table(sample: bytes, iterations: int = 4) -> list[bytes]:
    """Build an FSST symbol table from a sample blob by the paper's
    iterative greedy refinement: parse the sample with the current table,
    score every emitted segment and every adjacent-segment concatenation
    (≤ 8 bytes) by apparent gain = count × length, keep the top 255.
    Deterministic (ties broken by symbol bytes)."""
    from collections import Counter

    table: list[bytes] = []
    if not sample:
        return table
    for _ in range(iterations):
        segs = _fsst_pattern(table).findall(sample)
        gains = {s: c * len(s) for s, c in Counter(segs).items()}
        for ab, c in Counter(map(bytes.__add__, segs, segs[1:])).items():
            if len(ab) <= FSST_MAX_SYMLEN:
                gains[ab] = gains.get(ab, 0) + c * len(ab)
        ranked = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))
        table = [s for s, _ in ranked[:FSST_MAX_SYMBOLS]]
    return table


def fsst_encoder(table: list[bytes]):
    """Encoder for one symbol table, built once and shared by every string
    of a chunk: the tokenizer from :func:`_fsst_pattern` plus a token →
    code map holding one code byte per symbol and an (escape, literal)
    pair for every other single byte. ``encode(blob)`` maps each greedy
    longest-match token of ``blob`` through that map."""
    pat = _fsst_pattern(table)
    codes = {bytes([b]): bytes([FSST_ESCAPE, b]) for b in range(256)}
    codes.update((s, bytes([i])) for i, s in enumerate(table))
    findall, code = pat.findall, codes.__getitem__

    def encode(blob: bytes) -> bytes:
        return b"".join(map(code, findall(blob)))

    return encode


def fsst_encode(blob: bytes, table: list[bytes]) -> bytes:
    """Encode one byte string: greedy longest-match against the table →
    one code byte per symbol; bytes not in the table are emitted as
    (escape, literal) pairs. Encoding many strings against one table goes
    through :func:`fsst_encoder` instead."""
    return fsst_encoder(table)(blob)


def fsst_decode(code: bytes, table: list[bytes]) -> bytes:
    """Inverse of :func:`fsst_encode`. Escape-free stretches decode as a
    bulk table gather (list __getitem__ + join — no per-symbol Python
    branching); escapes are handled by jumping between them. Decoding a
    concatenation of per-string encodings yields the concatenation of the
    strings (escape pairs never span string boundaries), which is how the
    chunk decoder runs one pass per vector."""
    esc = b"%c" % FSST_ESCAPE
    get = table.__getitem__
    pos, parts = 0, []
    while True:
        e = code.find(esc, pos)
        if e < 0:
            parts.append(b"".join(map(get, code[pos:])))
            break
        parts.append(b"".join(map(get, code[pos:e])))
        parts.append(code[e + 1 : e + 2])
        pos = e + 2
    return b"".join(parts)


# ------------------------------------------------------------------ frequency
def freq_encode(arr: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """Frequency encoding (kernels/frequency_kernel.hpp:8-69): ONE frequent
    value + an exception list of (position, value) for everything else.
    Returns ``(top, exc_pos, exc_vals)``. Positions serialize as uint16,
    so inputs are capped at 0xFFFF values — enforced here so a future
    caller with a longer array fails loudly at encode time instead of
    silently wrapping positions."""
    if len(arr) > 0xFFFF:  # not assert: -O must not strip a data-integrity gate
        raise ValueError(
            f"freq_encode: {len(arr)} values > uint16 position space"
        )
    a = arr.astype(np.int64, copy=False)
    if len(a) == 0:
        return 0, np.zeros(0, dtype=np.uint16), a[:0]
    top, _ = freq_top(np.sort(a))
    exc_pos = np.flatnonzero(a != top)
    return top, exc_pos.astype(np.uint16), a[exc_pos]


def freq_top(sorted_vals: np.ndarray) -> tuple[int, int]:
    """Most frequent value of a non-empty ascending-sorted vector and its
    count; ties go to the smallest value."""
    n = len(sorted_vals)
    first = np.empty(n + 1, dtype=bool)
    first[0] = first[n] = True
    np.not_equal(sorted_vals[1:], sorted_vals[:-1], out=first[1:n])
    bounds = np.flatnonzero(first)  # run starts, then n
    counts = bounds[1:] - bounds[:-1]
    i = int(counts.argmax())
    return int(sorted_vals[bounds[i]]), int(counts[i])


def freq_decode(
    top: int, exc_pos: np.ndarray, exc_vals: np.ndarray, n: int
) -> np.ndarray:
    out = np.full(n, top, dtype=np.int64)
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals.astype(np.int64)
    return out


# -------------------------------------------------------------------- SLPatch
#: 2**w for w = 0..63; a delta is an exception at width w iff it is >= 2**w
_POW2 = _U64(1) << np.arange(64, dtype=_U64)


def slpatch_width(sorted_vals: np.ndarray) -> tuple[int, int]:
    """SLPatch bulk width for an ascending-sorted int64 vector, with its
    exception count. The width minimizes packed bytes ``(n*w + 7) // 8``
    plus 10 B per exception (delta from the minimum >= 2**w) over
    w = 0..63, smallest w on ties; it is 64 (no exceptions) unless some
    width is strictly cheaper than that."""
    n = len(sorted_vals)
    deltas = _deltas(sorted_vals, int(sorted_vals[0]) if n else 0)  # ascending
    n_exc = n - np.searchsorted(deltas, _POW2, side="left")
    cost = (n * np.arange(64) + 7) // 8 + 10 * n_exc
    w = int(cost.argmin())
    if cost[w] < (n * 64 + 7) // 8:
        return w, int(n_exc[w])
    return 64, 0


def slpatch_encode(
    arr: np.ndarray,
) -> tuple[int, int, bytes, np.ndarray, np.ndarray]:
    """SLPatch (kernels/slpatch_kernel.hpp:8-31): FFOR at a bit width
    chosen for the BULK of the deltas, with out-of-width values patched
    from an exception list after decode. The width minimizes measured
    bytes (packed payload + 10 B per exception) over every candidate
    width, so SLPatch is only ever emitted when patching genuinely beats
    plain FFOR. Returns ``(base, width, payload, exc_pos, exc_vals)``;
    exception slots in the payload hold 0. Positions serialize as
    uint16, so inputs are capped at 0xFFFF values (enforced — misuse
    fails at encode time, not as corrupt data on decode)."""
    if len(arr) > 0xFFFF:  # not assert: -O must not strip a data-integrity gate
        raise ValueError(
            f"slpatch_encode: {len(arr)} values > uint16 position space"
        )
    a = arr.astype(np.int64, copy=False)
    base = int(a.min()) if len(a) else 0
    delta = _deltas(a, base)
    w, _ = slpatch_width(np.sort(a))
    exc = delta >= _POW2[w] if w < 64 else np.zeros(len(a), dtype=bool)
    exc_pos = np.flatnonzero(exc)
    payload = pack_bits(np.where(exc, _U64(0), delta), w)
    return base, w, payload, exc_pos.astype(np.uint16), a[exc_pos]


def slpatch_decode(
    base: int,
    width: int,
    payload: bytes,
    n: int,
    exc_pos: np.ndarray,
    exc_vals: np.ndarray,
) -> np.ndarray:
    out = ffor_decode(base, width, payload, n)
    if len(exc_pos):
        out[exc_pos.astype(np.int64)] = exc_vals.astype(np.int64)
    return out


# ----------------------------------------------------------- string dict util
def dict_offsets_bytes(keys: list[bytes]) -> tuple[np.ndarray, bytes]:
    """Serialize dictionary keys as (END-offset uint32 array, byte blob) —
    the layout dictionary_kernel.hpp:66-77 walks (cur = end offset, length =
    cur - prev_end)."""
    lens = np.fromiter((len(k) for k in keys), dtype=np.uint32, count=len(keys))
    ends = np.cumsum(lens, dtype=np.uint64).astype(np.uint32)
    return ends, b"".join(keys)


def strings_from_offsets(ends: np.ndarray, blob: bytes) -> list[bytes]:
    out, prev = [], 0
    for cur in ends.tolist():
        out.append(blob[prev:cur])
        prev = cur
    return out
