"""IP scalar functions — Spark-native re-expression of the reference API.

Design rule: every function that *can* be pure Catalyst expressions is
(``is_valid``, ``is_private``, ``ipv4_to_numeric``, ``numeric_to_ipv4``,
``to_ipv4``, IPv4-only ``extract_ips`` and small-set IPv4 ``is_in`` run
entirely inside whole-stage codegen — zero Python workers).  Only the
operations that genuinely need real IP parsing (IPv6 canonicalization,
16-byte addresses, mixed-family CIDR sets) drop to vectorized Arrow
UDFs that take and return ``pa.Array``.

Semantics contracts are pinned to the reference kernels, cited per
function (file:line into /root/reference/).
"""

from __future__ import annotations

import functools
import ipaddress
import re
import warnings
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, BooleanType, LongType, StringType

from . import _ipparse

__all__ = [
    "is_valid",
    "is_private",
    "ipv4_to_numeric",
    "numeric_to_ipv4",
    "to_ipv4",
    "to_address",
    "to_string",
    "is_in",
    "extract_ips",
    "extract_public_ips",
    "extract_private_ips",
    "extract_all_ips",
]

# ---------------------------------------------------------------------------
# regex building blocks (shared by validation and extraction)
# ---------------------------------------------------------------------------

_V4_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_V4 = rf"(?:{_V4_OCTET}\.){{3}}{_V4_OCTET}"
_H = "[0-9A-Fa-f]{1,4}"

# Exhaustive IPv6 textual forms (RFC 4291 §2.2), no zone-ids — matching
# Rust std IpAddr::from_str used at /root/reference/src/iptools.rs:62.
_V6_PURE = [
    rf"(?:{_H}:){{7}}{_H}",          # 1:2:3:4:5:6:7:8
    rf"(?:{_H}:){{1,7}}:",           # 1:: .. 1:2:3:4:5:6:7::
    rf"(?:{_H}:){{1,6}}:{_H}",       # 1::8
    rf"(?:{_H}:){{1,5}}(?::{_H}){{1,2}}",
    rf"(?:{_H}:){{1,4}}(?::{_H}){{1,3}}",
    rf"(?:{_H}:){{1,3}}(?::{_H}){{1,4}}",
    rf"(?:{_H}:){{1,2}}(?::{_H}){{1,5}}",
    rf"{_H}:(?::{_H}){{1,6}}",
    rf":(?:(?::{_H}){{1,7}}|:)",     # ::, ::1 etc.
]
# v4-embedded tails: full (h:){6}v4, plus compressed L::R v4 where the
# group counts satisfy len(L)+len(R) <= 5 (v4 tail uses the last 2).
_V6_V4 = [rf"(?:{_H}:){{6}}{_V4}"]
for _r in range(0, 6):
    _lmax = 5 - _r
    _left = rf"(?:(?:{_H}:){{0,{_lmax - 1}}}{_H})?" if _lmax > 0 else ""
    _mid = rf"(?:{_H}:){{{_r}}}" if _r else ""
    _V6_V4.append(rf"{_left}::{_mid}{_V4}")
_V6 = "(?:" + "|".join(_V6_PURE + _V6_V4) + ")"

# \A..\z absolute anchors (not ^..$): Java's '$' also matches just
# before a FINAL newline, so '^..$' would accept '1.2.3.4\n' in
# is_valid while the strict roundtrip parser (and Rust from_str,
# /root/reference/src/iptools.rs:62) reject it — a cross-op
# inconsistency.  \z anchors at the true end of input in Java regex
# AND DuckDB's RE2 (the oracle embeds VALID_ANCHORED verbatim).
V4_ANCHORED = rf"\A{_V4}\z"
V6_ANCHORED = rf"\A{_V6}\z"
VALID_ANCHORED = rf"\A(?:{_V4}|{_V6})\z"

# extraction candidate: strict dotted quad not butted against digits/dots
_V4_CAND = rf"(?<![0-9.])({_V4})(?![0-9.])"

_MAX_U32 = 4294967295


def _col(expr: Column | str) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr


# ---------------------------------------------------------------------------
# native (pure-Catalyst) scalar functions
# ---------------------------------------------------------------------------


def is_valid(expr: Column | str) -> Column:
    """True if the string is a valid IPv4 or IPv6 address.

    Contract (null -> null, invalid -> false):
    /root/reference/src/iptools.rs:61-67, tests/test_iptools.py:30-44.
    Pure JVM regex — no Python worker.
    """
    return _col(expr).rlike(VALID_ANCHORED)


def ipv4_to_numeric(expr: Column | str) -> Column:
    """Dotted-quad string -> u32 (LongType).

    null -> null; anything not a strict IPv4 string (IPv6, out-of-range
    octets, leading zeros) -> null.
    /root/reference/src/iptools.rs:82-103, tests/test_iptools.py:72-92.
    """
    c = _col(expr)
    return F.when(c.rlike(V4_ANCHORED), _quad_num(c)).otherwise(F.lit(None).cast("long"))


def numeric_to_ipv4(expr: Column | str) -> Column:
    """u32 -> dotted-quad string; out-of-range / non-numeric -> null.

    Mirrors the reference's lenient ``cast(UInt32, strict=False)``
    front-end (/root/reference/polars_iptools/iptools.py:186) followed
    by the kernel (/root/reference/src/iptools.rs:106-122).
    """
    n = _col(expr).try_cast("long")
    octet = lambda k: F.shiftright(n, k).bitwiseAND(F.lit(255)).cast("string")  # noqa: E731
    quad = F.concat_ws(".", octet(24), octet(16), octet(8), octet(0))
    return F.when((n >= 0) & (n <= _MAX_U32), quad).otherwise(
        F.lit(None).cast("string")
    )


def _quad_num(x: Column) -> Column:
    """Dotted-quad string -> u32 as a JVM fold over its parts (callers
    gate on a strict-quad match first)."""
    return F.aggregate(
        F.transform(F.split(x, r"\."), lambda t: t.try_cast("long")),
        F.lit(0).cast("long"),
        lambda acc, t: acc * 256 + t,
    )


def _is_private_num(n: Column) -> Column:
    """RFC-1918 check over the numeric form (10/8, 172.16/12, 192.168/16)."""
    return (
        (F.shiftright(n, 24) == 10)
        | (F.shiftright(n, 20) == 0xAC1)
        | (F.shiftright(n, 16) == 0xC0A8)
    )


def is_private(expr: Column | str) -> Column:
    """RFC-1918 private IPv4?  IPv6 and invalid strings -> false, null -> null.

    /root/reference/src/iptools.rs:70-79, tests/test_iptools.py:47-69.
    """
    c = _col(expr)
    n = ipv4_to_numeric(c)
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.coalesce(_is_private_num(n), F.lit(False))
    )


def to_ipv4(expr: Column | str) -> Column:
    """Parse string -> typed IPv4 (u32 storage, LongType column).

    The reference's IPv4 extension type stores u32
    (/root/reference/polars_iptools/types.py:25); Spark lacks extension
    types so the storage column *is* the value — attach field metadata
    with :func:`polars_iptools_spark.types.as_ipv4` to tag the schema.
    null/invalid/IPv6 -> null (/root/reference/src/iptools.rs:505-524).
    """
    return ipv4_to_numeric(expr)


# ---------------------------------------------------------------------------
# Arrow-UDF scalar functions (16-byte addresses)
# ---------------------------------------------------------------------------


@F.arrow_udf(BinaryType())
def _to_address_udf(a: pa.Array) -> pa.Array:
    keys, fam = _ipparse.ip_keys(a)
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(16), len(keys), [None, pa.py_buffer(keys)]
    )
    return pc.if_else(pa.array(fam != 0), fixed, None).cast(pa.binary())


def to_address(expr: Column | str) -> Column:
    """Promote string / u32 / binary column -> 16-byte IPAddress binary.

    IPv4 stored v4-mapped ``::ffff:a.b.c.d``
    (/root/reference/src/iptools.rs:328-385).  null/unparseable -> null.
    Runtime dtype dispatch happens per Arrow batch inside the UDF.
    """
    return _to_address_udf(_col(expr))


@F.arrow_udf(StringType())
def _to_string_udf(a: pa.Array) -> pa.Array:
    if _ipparse.is_text(a.type):
        raise TypeError(
            "to_string expects a typed IP column (u32 numeric or 4/16-byte "
            "binary), got strings; parse them with to_address or to_ipv4"
        )
    keys, fam = _ipparse.ip_keys(a)
    m = _ipparse.key_matrix(keys)
    out = np.full(len(fam), None, dtype=object)
    v4 = fam == 4
    out[v4] = _ipparse.quad_strings(m[v4, 12:16])
    for i in np.flatnonzero(fam == 6):
        out[i] = str(ipaddress.IPv6Address(m[i].tobytes()))
    return pa.array(out, type=pa.string())


def to_string(expr: Column | str) -> Column:
    """Typed IP (u32 LongType or 16/4-byte binary) -> canonical string.

    v4-mapped 16-byte values render as plain dotted quad
    (/root/reference/src/iptools.rs:262-325); IPv6 in RFC-5952 canonical
    compression. null / wrong-length binary / non-u32 numbers -> null; a
    string column raises ``TypeError`` (as in ``src/iptools.rs:323``).
    """
    return _to_string_udf(_col(expr))


# ---------------------------------------------------------------------------
# is_in — CIDR-set membership
# ---------------------------------------------------------------------------

def _compile_networks(
    networks: Iterable[str],
) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """Parse + dedup CIDRs driver-side into SEPARATE v4 / v6 interval
    lists — the array-encoded equivalent of the reference's two tries
    (/root/reference/src/iptools.rs:130-151): a v4 CIDR can only ever
    match an address parsed as IPv4, and a v6 CIDR (including
    ``::ffff:0:0/96``) only one parsed as IPv6.  Invalid CIDR raises
    eagerly, matching the reference's build-time ComputeError
    (/root/reference/src/iptools.rs:144, tests/test_iptools.py:159-171).
    The wrapper dedups and drops nulls like iptools.py:524.

    v4 intervals are expressed in the v4-mapped 128-bit space so both
    families share the 16-byte |S16 searchsorted kernel.
    """
    v4: list[tuple[int, int]] = []
    v6: list[tuple[int, int]] = []
    for net in sorted({n for n in networks if n is not None}):
        try:
            parsed = ipaddress.ip_network(net, strict=False)
        except ValueError as exc:
            raise ValueError(f"Invalid CIDR range: {net}") from exc
        lo = int(parsed.network_address)
        hi = int(parsed.broadcast_address)
        if parsed.version == 4:
            v4.append((lo | 0xFFFF00000000, hi | 0xFFFF00000000))
        else:
            v6.append((lo, hi))
    return v4, v6


def _is_in_kernel(
    a: pa.Array,
    l4: np.ndarray,
    h4: np.ndarray,
    l6: np.ndarray,
    h6: np.ndarray,
) -> pa.Array:
    """The batch membership kernel behind the is_in UDF — module-level
    so the hypothesis property suite can pin it against stdlib
    ``ipaddress`` without a SparkSession."""
    # membership is defined on address text: typed (u32 / binary)
    # batches are null throughout
    if not _ipparse.is_text(a.type):
        return pa.nulls(len(a), pa.bool_())
    keys, fam = _ipparse.ip_keys(a)
    return _ipparse.membership(keys, fam, l4, h4, l6, h6)


def is_in(
    expr: Column | str, networks: Iterable[str], _force_udf: bool = False
) -> Column:
    """Membership of each IP in any of a set of IPv4/IPv6 CIDRs.

    null IP -> null, invalid IP -> null (NOT false), valid non-member ->
    false (/root/reference/src/iptools.rs:125-176,
    tests/test_iptools.py:135-156).  Family routing matches the
    reference's two-trie split (src/iptools.rs:160-166): a dotted-quad
    string checks only v4 CIDRs; anything parsed as IPv6 — including
    v4-mapped text like ``::ffff:1.2.3.4`` — checks only v6 CIDRs.
    The network set is compiled once on the driver into sorted interval
    arrays that the UDF closure captures (PySpark itself ships a UDF
    command above ``spark.broadcast.UDFCompressionThreshold``, 1 MiB,
    as a broadcast).
    """
    v4_iv, v6_iv = _compile_networks(list(networks))

    # fast path: a small all-IPv4 set compiles to a pure-Catalyst range
    # disjunction over the numeric form — no Python worker at all
    # (_force_udf is a test seam: the property suite asserts both
    # branches agree on every input)
    if not _force_udf and not v6_iv and len(v4_iv) <= 64:
        c = _col(expr)
        n = ipv4_to_numeric(c)
        member = F.lit(False)
        for lo, hi in v4_iv:
            lo32, hi32 = lo & 0xFFFFFFFF, hi & 0xFFFFFFFF
            member = member | ((n >= lo32) & (n <= hi32))
        return (
            F.when(c.isNull(), F.lit(None).cast("boolean"))
            .when(n.isNotNull(), member)
            # valid IPv6 string but v4-only set -> false; invalid -> null
            .when(c.rlike(V6_ANCHORED), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )

    lo4, hi4 = _ipparse.sort_intervals(v4_iv)
    lo6, hi6 = _ipparse.sort_intervals(v6_iv)

    @F.arrow_udf(BooleanType())
    def _is_in_udf(a: pa.Array) -> pa.Array:
        return _is_in_kernel(a, lo4, hi4, lo6, hi6)

    return _is_in_udf(_col(expr))


# ---------------------------------------------------------------------------
# extract_ips family
# ---------------------------------------------------------------------------


def _refang(c: Column, v6: bool) -> Column:
    """Un-defang ``192[.]168(.)1[.]1`` style text, JVM-side.

    The regexp_replace allocates a full copy of the text, so it is
    gated behind cheap substring probes — most corpus content contains
    no defang markers and skips the copy entirely."""
    has_dot_defang = c.contains("[.]") | c.contains("(.)")
    out = F.when(has_dot_defang, F.regexp_replace(c, r"\[\.\]|\(\.\)", ".")).otherwise(c)
    if v6:
        # probing the ORIGINAL column is sound: the dot-refang only ever
        # inserts '.', so a '[:]'/'(:)' marker in the refanged text means
        # the three chars were already contiguous in the input (any
        # replaced token between them would leave a '.' between them) —
        # regression-tested in test_iptools.py::test_refang_no_minted_markers
        has_colon_defang = c.contains("[:]") | c.contains("(:)")
        out = F.when(
            has_colon_defang, F.regexp_replace(out, r"\[:\]|\(:\)", ":")
        ).otherwise(out)
    return out


def _v4_elem_filters(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
):
    """Element predicate over extracted (guaranteed-valid) IPv4 strings."""

    def pred(x: Column) -> Column:
        n = _quad_num(x)
        keep = F.lit(True)
        drop_priv = only_public or ignore_private
        drop_loop = only_public or ignore_loopback
        drop_bcast = only_public or ignore_broadcast
        if drop_priv:
            keep = keep & ~_is_private_num(n)
        if drop_loop:
            keep = keep & (F.shiftright(n, 24) != 127)
        if drop_bcast:
            keep = keep & (n != _MAX_U32)
        return keep

    return pred


# -- IPv6-capable extraction (Arrow UDF path) -------------------------------

_SCAN_RE = re.compile(
    rf"\[(?P<br>[0-9A-Fa-f:.]+)\]"
    rf"|(?<![0-9A-Fa-f:.])(?P<v6>(?:{_H}:|::)[0-9A-Fa-f:.]*)"
    rf"|(?<![0-9.])(?P<v4>{_V4})(?![0-9.])"
)


def _is_private_addr(addr) -> bool:
    """Parsed address -> private?  RFC-1918 for IPv4 (reference
    ``src/iptools.rs:70-79``), ULA ``fc00::/7`` for IPv6
    (``src/iptools.rs:245-247``); the Python twin of
    :func:`_is_private_num`."""
    n = int(addr)
    if addr.version == 4:
        return (n >> 24) == 10 or (n >> 20) == 0xAC1 or (n >> 16) == 0xC0A8
    return (n >> 121) == (0xFC00 >> 9)


def _validate_candidate(cand: str):
    """Try to parse a scanner candidate, trimming trailing punctuation."""
    for attempt in (cand, cand.rstrip(".:")):
        if not attempt:
            continue
        try:
            return ipaddress.ip_address(attempt)
        except ValueError:
            continue
    return None


@functools.lru_cache(maxsize=32)
def _extract_row_fn(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
    only_private: bool = False,
):
    """Per-flag extraction closure, cached per Python worker — the Spark
    analog of the reference's per-flag-mask extractor cache
    (/root/reference/src/iptools.rs:12-58)."""
    drop_priv = only_public or ignore_private
    drop_loop = only_public or ignore_loopback
    drop_bcast = only_public or ignore_broadcast

    def keep(addr) -> bool:
        # drop private addresses, or with only_private the public ones
        if (drop_priv or only_private) and _is_private_addr(addr) != only_private:
            return False
        n = int(addr)
        if addr.version == 4:
            loop, bcast = (n >> 24) == 127, n == _MAX_U32
        else:
            loop, bcast = n == 1, False
        return not ((drop_loop and loop) or (drop_bcast and bcast))

    def canon(addr) -> str:
        # Rust std Display keeps the dotted tail for v4-mapped IPv6
        # ('::ffff:10.0.0.1'); Python renders hex groups — match the
        # reference (/root/reference/src/iptools.rs:62 canonicalizes
        # via IpAddr Display)
        if addr.version == 6:
            mapped = addr.ipv4_mapped
            if mapped is not None:
                return f"::ffff:{mapped}"
        return str(addr)

    def run(text: str) -> list[str]:
        found: list[str] = []
        for m in _SCAN_RE.finditer(text):
            cand = m.group("br") or m.group("v6") or m.group("v4")
            addr = _validate_candidate(cand)
            if addr is None or not keep(addr):
                continue
            found.append(canon(addr))
        return found

    return run


def _extract_udf_v6(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
    only_private: bool = False,
):
    flags = (only_public, ignore_private, ignore_loopback, ignore_broadcast, only_private)

    @F.arrow_udf(ArrayType(StringType()))
    def _udf(a: pa.Array) -> pa.Array:
        run = _extract_row_fn(*flags)
        refang = re.compile(r"\[\.\]|\(\.\)|\[:\]|\(:\)")

        def one(t):
            if t is None:
                return None
            return run(refang.sub(lambda m: "." if "." in m.group() else ":", t))

        return pa.array([one(t) for t in a.to_pylist()], pa.list_(pa.string()))

    return _udf


def _v6_gated(c: Column, flags: tuple, native: Column) -> Column:
    """IPv6-capable extraction: the ``_extract_udf_v6(*flags)`` scan
    where needed, the same flags' IPv4-only ``native`` elsewhere.

    Native prefilter: a row whose refanged text contains neither ':'
    nor '[' cannot produce a v6 match NOR a bracketed-scan match (the
    scanner's v6 alternative needs a colon; its bracket alternative
    needs '['; with both absent the full scan reduces exactly to the
    strict-quad v4 alternative, which is what the JVM-native ipv6=False
    path computes).  Those rows take the native path, and the UDF
    receives NULL instead of the text — Spark still runs the
    ArrowEvalPython node over every row, but masked rows cross as
    nulls, so v6-free batches pay neither serialization nor Python
    regex.  The '[' probe reads the v6-refanged text, so a '[' that
    only belongs to a '[.]' marker keeps its row native; the ':' probe
    reads the original text, which has a colon exactly when the
    refanged text does (every marker that refangs to ':' contains one),
    so the refang copy appears once in the gate.

    The gate is evaluated once per row, as the UDF's input mask: the
    UDF returns null only for null input, so a null result means
    "masked or null" and ``coalesce`` computes ``native`` for exactly
    those rows (``native`` is null for null text).
    """
    needs_py = c.contains(":") | _refang(c, v6=True).contains("[")
    udf = _extract_udf_v6(*flags)
    return F.coalesce(udf(F.when(needs_py, c)), native)


def extract_ips(
    expr: Column | str,
    ipv6: bool = False,
    only_public: bool = False,
    ignore_private: bool = False,
    ignore_loopback: bool = False,
    ignore_broadcast: bool = False,
) -> Column:
    """Extract all IP addresses from free text (defanged ``192[.]168[.]1[.]1``,
    bracketed ``[2001:db8::1]:443`` and port-suffixed ``1.2.3.4:80`` forms
    included), returning canonical strings in order of appearance.

    null -> null; no matches -> empty list
    (/root/reference/src/iptools.rs:186-220, tests/test_iptools.py:174-367).

    The default IPv4-only path runs entirely JVM-side
    (regexp_replace + regexp_extract_all + higher-order filter);
    ``ipv6=True`` switches to a vectorized Arrow UDF because RFC-5952
    canonical compression needs real parsing.
    """
    c = _col(expr)
    if ipv6:
        flags = (only_public, ignore_private, ignore_loopback, ignore_broadcast)
        return _v6_gated(c, flags, extract_ips(c, False, *flags))
    refanged = _refang(c, v6=False)
    arr = F.regexp_extract_all(refanged, F.lit(_V4_CAND), 1)
    if only_public or ignore_private or ignore_loopback or ignore_broadcast:
        arr = F.filter(
            arr,
            _v4_elem_filters(
                only_public, ignore_private, ignore_loopback, ignore_broadcast
            ),
        )
    # Native no-candidate prefilter (the v4 twin of the v6 gate above):
    # any extractable IPv4 needs a digit.digit bigram in the REFANGED
    # text, which can only come from "d.d", "d[.]d" or "d(.)d" in the
    # original — one cheap early-exit rlike over the original column
    # (probing the original, not `refanged`, keeps the refang
    # subexpression out of the probe branch so it is never computed
    # twice).  CASE WHEN branches evaluate lazily in codegen, so rows
    # with no candidate skip BOTH the refang copy and the full
    # candidate scan — on real source corpora most rows are IP-free
    # and extraction leads every pipeline.
    has_cand = c.rlike(r"[0-9](\.|\[\.\]|\(\.\))[0-9]")
    arr = F.when(has_cand, arr).otherwise(F.array().cast(ArrayType(StringType())))
    return F.when(c.isNull(), F.lit(None).cast(ArrayType(StringType()))).otherwise(
        arr
    )


def extract_public_ips(expr: Column | str, ipv6: bool = False) -> Column:
    """Sugar: ``extract_ips(only_public=True)``
    (/root/reference/polars_iptools/iptools.py:393-427)."""
    return extract_ips(expr, ipv6=ipv6, only_public=True)


def extract_private_ips(expr: Column | str, ipv6: bool = False) -> Column:
    """Extract then keep only private IPs: RFC-1918 v4, ULA ``fc00::/7`` v6.

    Base extractor runs with ignore_loopback+ignore_broadcast like the
    reference (/root/reference/src/iptools.rs:223-259).
    """
    c = _col(expr)
    if ipv6:
        # one scan: ignore_loopback + ignore_broadcast + only_private
        return _v6_gated(c, (False, False, True, True, True), extract_private_ips(c))
    base = extract_ips(c, ignore_loopback=True, ignore_broadcast=True)
    kept = F.filter(base, lambda x: _is_private_num(_quad_num(x)))
    return F.when(c.isNull(), F.lit(None).cast(ArrayType(StringType()))).otherwise(
        kept
    )


def extract_all_ips(expr: Column | str, **kwargs) -> Column:
    """Deprecated alias of :func:`extract_ips`
    (/root/reference/polars_iptools/iptools.py:477-484)."""
    warnings.warn(
        "extract_all_ips is deprecated, use extract_ips instead",
        DeprecationWarning,
        stacklevel=2,
    )
    return extract_ips(expr, **kwargs)
