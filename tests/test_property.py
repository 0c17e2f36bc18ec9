"""Property-based tests (hypothesis) for the wire codecs — extends the
reference's randomized tests (conn_test.go) with shrinking coverage."""

from __future__ import annotations

import asyncio

from hypothesis import example, given, settings
from hypothesis import strategies as st

from tidb_gateway_spark.gateway import dialect
from tidb_gateway_spark.gateway.wire import Buffer, PacketIO


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_lenenc_int_roundtrip(v):
    b = Buffer()
    b.write_lenenc_int(v)
    r = Buffer(b.getvalue())
    assert r.read_lenenc_int() == v
    assert r.remaining() == 0


@given(st.binary(max_size=4096))
def test_lenenc_string_roundtrip(data):
    b = Buffer()
    b.write_lenenc_string(data)
    assert Buffer(b.getvalue()).read_lenenc_string() == data


@given(st.lists(st.binary(max_size=70000), min_size=1, max_size=6))
@settings(max_examples=30, deadline=None)
def test_packet_stream_roundtrip(payloads):
    async def go():
        reader = asyncio.StreamReader()

        class W:
            def write(self, d):
                reader.feed_data(d)

        a = PacketIO(reader, W())
        b = PacketIO(reader, W())
        for p in payloads:
            a.write_packet(p)
        for p in payloads:
            assert await b.read_packet() == p

    asyncio.run(go())


@given(st.lists(st.sampled_from(
    ["SELECT 1", "SELECT ';'", 'SELECT ";`;"', "SELECT `a;b` FROM t",
     "-- c;\nSELECT 2", "/* x; */ SELECT 3"]), min_size=1, max_size=5))
def test_split_statements_one_per_part(parts):
    """Quoted/commented ';' never splits: joining N statements always
    yields exactly N back, and re-splitting any output is stable."""
    sql = "; ".join(parts)
    out = dialect.split_statements(sql)
    assert len(out) == len(parts)
    for stmt in out:
        assert dialect.split_statements(stmt) == [stmt]


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_dialect_classify_never_crashes(sql):
    """The gateway statement classifier must TOTAL-function over
    arbitrary client bytes: any text classifies (usually as a plain
    query) without raising — a gateway that throws on a weird
    statement drops the connection."""
    kind, detail = dialect.classify(sql)
    assert isinstance(kind, str)


@given(st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po", "Ps", "Pe")),
    max_size=120))
@settings(max_examples=200, deadline=None)
def test_dialect_rewrite_never_crashes(sql):
    """to_spark_sql (the MySQL→Spark dialect shim) must also be total —
    rewrites apply or pass through, never raise."""
    out = dialect.to_spark_sql(sql)
    assert isinstance(out, str)


_BIN_TYPES = [0x01, 0x02, 0x03, 0x08, 0x05]  # TINY SHORT LONG LONGLONG DOUBLE
_RANGES = {0x01: (-128, 127), 0x02: (-32768, 32767),
           0x03: (-2**31, 2**31 - 1), 0x08: (-2**63, 2**63 - 1)}


@given(st.lists(
    st.sampled_from(_BIN_TYPES).flatmap(
        lambda t: st.tuples(
            st.just(t),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=False,
                          width=64) if t == 0x05
                else st.integers(*_RANGES[t]),
            ),
        )
    ),
    min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_binary_row_null_bitmap_roundtrip(cols):
    """Binary-protocol row encoding: the NULL bitmap (offset 2) and the
    per-type little-endian value layouts must round-trip for every
    NULL/value interleaving — the exact byte contract of the reference
    (mysql/buffer.go).  Decoder mirrors tests/test_gateway_e2e.py's
    client parser."""
    import struct as _struct

    from tidb_gateway_spark.gateway.prepared import encode_binary_row

    type_codes = [t for t, _ in cols]
    values = [v for _, v in cols]
    payload = encode_binary_row(values, type_codes)
    assert payload[0] == 0x00
    nbytes = (len(values) + 9) // 8
    nulls = payload[1:1 + nbytes]
    pos = 1 + nbytes
    out = []
    for i, t in enumerate(type_codes):
        bit = i + 2
        if nulls[bit // 8] & (1 << (bit % 8)):
            out.append(None)
            continue
        if t == 0x01:
            out.append(_struct.unpack_from("<b", payload, pos)[0]); pos += 1
        elif t == 0x02:
            out.append(_struct.unpack_from("<h", payload, pos)[0]); pos += 2
        elif t == 0x03:
            out.append(_struct.unpack_from("<i", payload, pos)[0]); pos += 4
        elif t == 0x08:
            out.append(_struct.unpack_from("<q", payload, pos)[0]); pos += 8
        elif t == 0x05:
            out.append(_struct.unpack_from("<d", payload, pos)[0]); pos += 8
    assert pos == len(payload)
    for got, want in zip(out, values):
        assert got == want or (got is None and want is None)


# ---------------------------------------------------------------------------
# Round-6 tokenizer rewrite: split(trim(text), ' +') must produce exactly
# the token list filter(split(text, ' '), x -> x != '') produced — the
# whole HOF-free family (q98/q122/q160/word_shingles) rests on this
# identity, so pin it against adversarial whitespace layouts.
@given(st.lists(
    st.one_of(
        st.text(alphabet="ab ", min_size=0, max_size=6),
        st.text(min_size=0, max_size=4),
    ),
    max_size=8,
).map(" ".join))
@settings(max_examples=200, deadline=None)
def test_trim_split_equals_filtered_split(text):
    old = [t for t in text.split(" ") if t != ""]
    stripped = text.strip(" ")
    new = [] if stripped == "" else __import__("re").split(" +", stripped)
    assert new == old, (text, new, old)


@settings(max_examples=300, deadline=None)
@given(
    # pinned bounds
    st.tuples(st.floats(-1e3, 1e3), st.floats(1.0, 1e3),
              st.floats(-1e3, 1e3), st.floats(1.0, 1e3)),
    # a point anywhere, INCLUDING outside the pinned bounds
    st.floats(-2e3, 2e3), st.floats(-2e3, 2e3),
    # box half-widths
    st.floats(0.0, 500.0), st.floats(0.0, 500.0),
)
def test_zbucket_candidates_never_prune_a_matching_point(
        b, x, y, wx, wy):
    """Pruning soundness (pure driver-side arithmetic, no Spark): for
    ANY pinned bounds, any point — in or out of bounds — and any box
    containing that point, the point's written bucket must be in the
    reader's candidate set.  This is the invariant behind the r7
    lower-clamp fix: an out-of-bounds point must clamp into an edge
    bucket the reader probes, never shift into an unprobed one."""
    from tidb_gateway_spark.operators import layout

    xlo, xw, ylo, yw = b
    bounds = (xlo, xlo + xw, ylo, ylo + yw)

    # writer-side bucket of the point, mirroring _quantize + interleave.
    # NB: true division then floor, matching Spark's floor(Divide(..))
    # and the reader's int(a/b) EXACTLY — Python's float `//` computes
    # (x - x%y)/y, which disagrees with floor(x/y) by 1 at values one
    # ulp under a cell boundary (found by this test's first run).
    import math

    top = 2**layout.ZBITS - 1

    def q(v, lo, hi):
        return max(0, min(top, math.floor(
            (v - lo) * (2**layout.ZBITS) / (hi - lo))))

    xq, yq = q(x, bounds[0], bounds[1]), q(y, bounds[2], bounds[3])
    zv = 0
    for i in range(layout.ZBITS):
        zv |= ((xq >> i) & 1) << (2 * i)
        zv |= ((yq >> i) & 1) << (2 * i + 1)
    bucket = zv >> (2 * (layout.ZBITS - layout.BUCKET_BITS))

    cands = layout.zbucket_candidates(
        (x - wx, x + wx), (y - wy, y + wy), bounds)
    assert bucket in cands, (bounds, (x, y), bucket, cands)


@given(
    st.lists(st.integers(-120, 120), min_size=4, max_size=16),
    st.lists(st.integers(-120, 120), min_size=4, max_size=16),
    st.sampled_from([1000, 2500, 3500, 5000, 9900]),
)
def test_quantized_cosine_predicate_matches_rational_form(qa, qb, tau_bps):
    """The gcd-reduced integer test in similarity._make_cell_blocks
    (dot²·lhs ≥ rhs·na·nb with lhs/rhs = 10⁸/g, τ²/g) must equal the
    exact rational comparison dot²·10⁸ ≥ τ_bps²·na·nb — unbounded-int
    mirror, catching any bad reduction or overflow-prone scaling."""
    import math

    m = min(len(qa), len(qb))
    qa, qb = qa[:m], qb[:m]
    dot = sum(a * b for a, b in zip(qa, qb))
    na = sum(a * a for a in qa)
    nb = sum(b * b for b in qb)
    t2 = tau_bps * tau_bps
    g = math.gcd(t2, 10 ** 8)
    reduced = dot > 0 and dot * dot * ((10 ** 8) // g) >= (t2 // g) * na * nb
    exact = dot > 0 and dot * dot * 10 ** 8 >= t2 * na * nb
    assert reduced == exact


@given(
    st.lists(st.integers(-120, 120), min_size=4, max_size=16),
    st.lists(st.integers(-120, 120), min_size=4, max_size=16),
    st.sampled_from([1000, 2500, 3333, 3500, 5000, 9900]),
    st.sampled_from([1, 10 ** 5]),  # magnitude multiplier: 10^5 forces
                                    # the object-int tier
)
# one explicit case per exactness tier of the flag (bound = nmax²·
# max(lhs, rhs)): 5000 bps reduces to lhs=4, rhs=1, so the bound stays
# under 2^53 (float64); 3333 bps keeps lhs=10⁸, and |q|² = 57600 puts
# the bound between 2^53 and 2^63 (int64); ×10⁵ passes 2^63 (object ints)
@example([120, -7, 33, 50], [110, -5, 30, 60], 5000, 1)
@example([120, 120, 120, 120], [120, 119, -3, 100], 3333, 1)
@example([120, -120, 5, 7], [118, -119, 9, 2], 3500, 10 ** 5)
def test_neardup_keep_never_wraps_int64(qa, qb, tau_bps, mult):
    """The SemDeDup flag kernel q211 runs, ``_make_blocked_upper_keep``,
    must equal the unbounded-int rational comparison in all three of
    its exactness tiers — float64 BLAS, numpy int64 and object ints
    (r7 ADVICE: tau_bps=3333 gives lhs_scale=10⁸ and large vectors
    wrapped int64 silently)."""
    import math

    import numpy as np

    from tidb_gateway_spark.operators.similarity import (
        _make_blocked_upper_keep,
    )

    m = min(len(qa), len(qb))
    qa = [a * mult for a in qa[:m]]
    qb = [b * mult for b in qb[:m]]
    dot = sum(a * b for a, b in zip(qa, qb))
    na = sum(a * a for a in qa)
    nb = sum(b * b for b in qb)
    t2 = tau_bps * tau_bps
    g = math.gcd(t2, 10 ** 8)
    lhs, rhs = (10 ** 8) // g, t2 // g
    exact = dot > 0 and dot * dot * 10 ** 8 >= t2 * na * nb

    Q = np.array([qa, qb], dtype=np.int64)
    n = (Q * Q).sum(axis=1)
    (s, keep), = _make_blocked_upper_keep(lhs, rhs)(Q, n)
    assert s == 0 and not keep[0, 0] and not keep[1, 0] and not keep[1, 1]
    assert bool(keep[0, 1]) == exact, (qa, qb, tau_bps, mult)
