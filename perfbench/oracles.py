"""Independent reference answers for the benchmark's correctness checks.

None of these call the engine's code paths: IP semantics come from
Python's ``ipaddress``, enrichment answers from the synthesizer's
tiling arithmetic (``mmdb_synth.expected_city_record_index``), Jaccard
pairs from DuckDB, cosine answers from NumPy, and pipeline quality from
the corpus generator's entity labels."""

from __future__ import annotations

import hashlib
import ipaddress
import itertools
import math

import numpy as np
import pandas as pd

_RFC1918 = [ipaddress.ip_network(n) for n in ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16")]


def _parse(s):
    if s is None:
        return None
    try:
        return ipaddress.ip_address(s)
    except ValueError:
        return None


def scalar_expected(s: str | None, nets: list) -> dict:
    """is_valid / is_private / ipv4_to_numeric / to_string(to_address) /
    is_in for one input string, per the reference's documented
    contract: null in -> null out; invalid -> false for the predicates,
    null for conversions and for is_in.  ``nets`` are parsed
    ``ipaddress`` networks."""
    if s is None:
        return {"valid": None, "private": None, "num": None, "canon": None, "is_in": None}
    a = _parse(s)
    if a is None:
        return {"valid": False, "private": False, "num": None, "canon": None, "is_in": None}
    if a.version == 4:
        canon = str(a)
    else:
        canon = str(a.ipv4_mapped) if a.ipv4_mapped else str(a)
    return {
        "valid": True,
        "private": a.version == 4 and any(a in n for n in _RFC1918),
        "num": int(a) if a.version == 4 else None,
        "canon": canon,
        "is_in": any(a.version == n.version and a in n for n in nets),
    }


def _lookup_index(s: str | None, n_networks: int, n_records: int, v6_networks: int = 0):
    from polars_iptools_spark.sources import mmdb_synth

    a = _parse(s)
    if a is None:
        return None
    if a.version == 4:
        return mmdb_synth.expected_city_record_index(int(a), n_networks, n_records)
    return mmdb_synth.expected_city_v6_record_index(int(a), n_networks, v6_networks, n_records)


def geoip_expected(s: str | None, sizes: dict) -> dict | None:
    """Subset of the geoip.full struct.  Null or invalid input -> None (an
    all-null struct); a valid address outside every network, or a field
    the record lacks, reads as the type's default (0, "", 0.0), as in the
    reference's ``unwrap_or_default``."""
    from polars_iptools_spark.sources import mmdb_synth

    if _parse(s) is None:
        return None
    jc = _lookup_index(s, sizes["city_networks"], sizes["city_records"])
    ja = _lookup_index(s, sizes["asn_networks"], sizes["asn_records"])
    out = {"asnnum": 0, "city": "", "country_iso": "", "latitude": 0.0,
           "postalcode": "", "timezone": ""}
    if ja is not None:
        out["asnnum"] = mmdb_synth.asn_record(ja)["autonomous_system_number"]
    if jc is not None:
        r = mmdb_synth.city_record(jc)
        out.update(
            city=r["city"]["names"]["en"],
            country_iso=r["country"]["iso_code"],
            latitude=r["location"]["latitude"],
            postalcode=r["postal"]["code"],
            timezone=r["location"]["time_zone"],
        )
    return out


def spur_expected(s: str | None, sizes: dict) -> dict | None:
    """Subset of the spur.full struct, with the same null and default
    rules as :func:`geoip_expected`."""
    from polars_iptools_spark.sources import mmdb_synth

    if _parse(s) is None:
        return None
    j = _lookup_index(s, sizes["spur_networks"], sizes["spur_records"], sizes["spur_v6_networks"])
    r = mmdb_synth.spur_record(j) if j is not None else {}
    return {
        "client_count": r.get("clientCount", 0.0),
        "infrastructure": r.get("infrastructure", ""),
        "location_city": r.get("locationCity", ""),
        "services": r.get("services", []),
        "tag": r.get("tag", ""),
    }


def same(a, b) -> bool:
    """Equality that treats float fields to 1e-9 and lists elementwise."""
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        return a is not None and b is not None and len(a) == len(b) and all(
            same(x, y) for x, y in zip(a, b)
        )
    return a == b


def struct_agrees(got: dict | None, want: dict | None) -> bool:
    """A looked-up struct agrees when every expected field matches; null
    or invalid input agrees when every field the engine returned is null."""
    if want is None:
        return got is None or all(v is None for v in got.values())
    return got is not None and all(same(got.get(k), v) for k, v in want.items())


# --- near_dup ---------------------------------------------------------------


def exact_dedup_expected(docs: pd.DataFrame) -> set[tuple[str, int, int]]:
    """(content_sha, keep_id, dup_count) for every distinct text."""
    sha = docs["text"].map(lambda t: hashlib.sha256(t.encode()).hexdigest())
    g = docs.assign(sha=sha).groupby("sha")["doc_id"].agg(["min", "count"])
    return {(k, int(r["min"]), int(r["count"])) for k, r in g.iterrows()}


def identical_pairs(docs: pd.DataFrame) -> set[tuple[int, int]]:
    """(a, b), a < b, of documents with the same text: Jaccard 1 and
    SimHash hamming 0, so every banded LSH finds them."""
    out: set[tuple[int, int]] = set()
    for ids in docs.groupby("text")["doc_id"]:
        out.update(itertools.combinations(sorted(int(i) for i in ids[1]), 2))
    return out


def jaccard_pairs_duckdb(docs: pd.DataFrame, threshold: float) -> dict[tuple[int, int], float]:
    """Exact word-3-shingle Jaccard pairs from DuckDB, using the repo's
    SQL oracle text (``__spark_entry__._jaccard_pairs_sql``) alone."""
    import duckdb

    from __spark_entry__ import _jaccard_pairs_sql

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        rows = con.execute(_jaccard_pairs_sql(None, threshold)).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def cosine_matrix(m: np.ndarray) -> np.ndarray:
    u = m / np.linalg.norm(m, axis=1, keepdims=True)
    return u @ u.T


def topk_expected(m: np.ndarray, n_queries: int, k: int) -> set[tuple[int, int, int]]:
    """(query_id, vec_id, rank) of the exact cosine top-k of the first
    ``n_queries`` vectors (the query includes itself, as in the engine)."""
    c = cosine_matrix(m)[:n_queries]
    out = set()
    for q in range(n_queries):
        order = sorted(range(m.shape[0]), key=lambda j: (-c[q, j], j))[:k]
        out.update((q, j, r + 1) for r, j in enumerate(order))
    return out


def cosine_pairs_expected(m: np.ndarray, threshold: float) -> dict[tuple[int, int], float]:
    c = cosine_matrix(m)
    a, b = np.nonzero(np.triu(c >= threshold, k=1))
    return {(int(i), int(j)): float(c[i, j]) for i, j in zip(a, b)}


def subset_with_values(got: dict, want: dict, tol: float = 1e-6) -> bool:
    """Every emitted pair is a true pair, with the true value."""
    return all(k in want and abs(v - want[k]) <= tol for k, v in got.items())


def recall(got, want) -> float:
    """Share of the true pairs ``want`` that ``got`` holds (0 when there
    are none, so an empty reference never passes a floor)."""
    return len(set(got) & set(want)) / len(want) if want else 0.0
