"""Seeded input generators.  The same seed gives the same inputs; the
sizes do not depend on the seed, so runs on different seeds do the
same amount of work.  Every generator also returns what an independent
check needs to know about its rows (planted indicators, planted
duplicates)."""

from __future__ import annotations

import ipaddress

import numpy as np
import pandas as pd

# --- ip_columns -------------------------------------------------------------

# synthetic GeoLite2 / Spur fixture sizes: the tiling of 30k networks covers
# 0.0.0.0 - ~4.40.0.0, and the decoded tables (~2.6 MiB together) exceed one core's
# L2 (2 MiB per core on the 4-core host the notes describe)
CITY_NETWORKS, CITY_RECORDS = 30_000, 8_000
ASN_NETWORKS, ASN_RECORDS = 30_000, 4_000
SPUR_NETWORKS, SPUR_RECORDS, SPUR_V6_NETWORKS = 30_000, 8_000, 3_000
COVERED_V4_END = 4 << 24  # every address below 4.0.0.0 is in a network
FIXTURE_SIZES = {  # what the enrichment oracles need to know of the tiling
    "city_networks": CITY_NETWORKS, "city_records": CITY_RECORDS,
    "asn_networks": ASN_NETWORKS, "asn_records": ASN_RECORDS,
    "spur_networks": SPUR_NETWORKS, "spur_records": SPUR_RECORDS,
    "spur_v6_networks": SPUR_V6_NETWORKS,
}

N_IP_ROWS = 40_000
N_TEXT_ROWS = 10_000

# is_in target set: mixed families, so the Arrow-UDF path is taken
IS_IN_NETWORKS = [f"{a}.{b}.0.0/16" for a in range(1, 5) for b in range(0, 256, 9)] + [
    "2600:0:0::/40",
    "2606:4700::/32",
    "2001:db8::/48",
]

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "route proxy relay beacon socket stream packet frame token cipher"
).split()


def _quad(n: np.ndarray) -> list[str]:
    return [f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}" for v in n.tolist()]


def ip_rows(seed: int) -> pd.DataFrame:
    """(rid, ip): valid v4 inside and outside the fixture's coverage,
    RFC-1918 v4, v6 inside and outside the Spur v6 tiling, invalid
    strings and nulls."""
    rng = np.random.default_rng(seed)
    n = N_IP_ROWS
    kind = rng.choice(7, size=n, p=[0.55, 0.1, 0.07, 0.1, 0.05, 0.08, 0.05])
    covered = _quad(rng.integers(1 << 24, COVERED_V4_END, size=n))
    outside = _quad(rng.integers(100 << 24, 224 << 24, size=n))
    private = [
        f"10.{a}.{b}.{c}" if k == 0 else f"192.168.{b}.{c}" if k == 1 else f"172.{16 + a % 16}.{b}.{c}"
        for k, a, b, c in zip(
            rng.integers(0, 3, size=n).tolist(),
            rng.integers(0, 256, size=n).tolist(),
            rng.integers(0, 256, size=n).tolist(),
            rng.integers(1, 255, size=n).tolist(),
        )
    ]
    v6_in = [f"2600:0:{x:x}::{y:x}" for x, y in zip(
        rng.integers(0, 1 << 12, size=n).tolist(), rng.integers(1, 1 << 16, size=n).tolist()
    )]
    v6_out = [f"2606:4700:{x:x}::1111" for x in rng.integers(0, 1 << 16, size=n).tolist()]
    bad = [
        f"{300 + a}.{b}.1.1" if a % 2 else f"host-{b}.example"
        for a, b in zip(rng.integers(0, 600, size=n).tolist(), rng.integers(0, 256, size=n).tolist())
    ]
    cols = [covered, outside, private, v6_in, v6_out, bad]
    ip = [None if k == 6 else cols[k][i] for i, k in enumerate(kind.tolist())]
    return pd.DataFrame({"rid": np.arange(n, dtype=np.int64), "ip": ip})


def text_rows(seed: int) -> tuple[pd.DataFrame, dict[int, dict]]:
    """(doc_id, itext) with planted indicators, and per row the expected
    ``extract_public_ips`` and ``extract_ips(ipv6=True)`` lists."""
    rng = np.random.default_rng(seed + 1)
    n = N_TEXT_ROWS
    pub = _quad(rng.integers(20 << 24, 100 << 24, size=n))
    texts, truth = [], {}
    for i in range(n):
        r = rng.integers(0, 1 << 30)
        p = pub[i]
        shown = p.replace(".", "[.]") if r % 3 == 0 else p
        priv = f"10.0.{r % 254}.7"
        extra = [" 127.0.0.1", " 255.255.255.255", "", "", ""][r % 5]
        v6_text, v6 = "", []
        if r % 4 == 0:
            addr = f"2606:4700:{r % 65536:x}::1111"
            v6_text, v6 = f" [{addr}]:443", [str(ipaddress.IPv6Address(addr))]
        elif r % 4 == 1:
            full = f"2001:0db8:0000:0000:0000:0000:{r % 65536:04x}:0001"
            v6_text, v6 = f" {full}", [str(ipaddress.IPv6Address(full))]
        words = " ".join(_WORDS[(r >> (5 * k)) % len(_WORDS)] for k in range(4))
        texts.append(f"conn {shown} and {priv}{extra}{v6_text} | {words}")
        everything = [p, priv] + ([extra.strip()] if extra else []) + v6
        truth[i] = {"public_v4": [p], "all_v6": everything}
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "itext": texts}), truth


# --- near_dup ---------------------------------------------------------------

N_DOCS = 600
N_VECS = 500
DIM = 64
N_QUERIES = 5


def documents(seed: int) -> pd.DataFrame:
    """(doc_id, text): random word documents, 20% near-duplicates of an
    earlier document (10% of words replaced) and 5% exact copies."""
    rng = np.random.default_rng(seed + 2)
    vocab = [f"w{j}" for j in range(4000)]
    docs: list[list[str]] = []
    for i in range(N_DOCS):
        u = rng.random()
        if i > 10 and u < 0.2:
            base = list(docs[int(rng.integers(0, i))])
            for pos in rng.choice(len(base), size=max(1, len(base) // 10), replace=False):
                base[pos] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(base)
        elif i > 10 and u < 0.25:
            docs.append(list(docs[int(rng.integers(0, i))]))
        else:
            length = int(rng.integers(30, 60))
            docs.append([vocab[j] for j in rng.integers(0, len(vocab), size=length)])
    return pd.DataFrame(
        {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": [" ".join(d) for d in docs]}
    )


def embeddings(seed: int) -> np.ndarray:
    """(N_VECS, DIM) float64: gaussian vectors, 15% of them an earlier
    vector plus small noise (planted near-duplicates)."""
    rng = np.random.default_rng(seed + 3)
    m = rng.standard_normal((N_VECS, DIM))
    for i in range(10, N_VECS):
        if rng.random() < 0.15:
            m[i] = m[int(rng.integers(0, i))] + 0.15 * rng.standard_normal(DIM)
    return m
