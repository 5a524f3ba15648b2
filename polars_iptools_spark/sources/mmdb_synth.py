"""Deterministic GeoLite2-shaped MMDB synthesizer — production-scale
stress infrastructure.

A real GeoLite2-City carries ~3.5M networks over ~120k distinct
records; the reference's tests ship only ~21 KB toy DBs
(/root/reference/tests/maxmind), so the enrichment path's decode wall,
broadcast size and lookup throughput at deployment scale need a
synthesized stand-in.  Entries here are pure arithmetic on the network
index (no RNG): any spot check can recompute the expected record for an
address independently, and repeated builds are byte-identical apart
from the build_epoch metadata field.

Network layout: the v4 space is tiled by /19 blocks; block ``i`` is
emitted as one /19, two /20s, four /21s or eight /22s depending on
``i % 4`` — variable prefix lengths exercise the non-uniform tree depth
a real DB has, averaging 3.75 networks per /19 (~1.97M networks over
the full space).
"""

from __future__ import annotations

from pathlib import Path

from .mmdb_writer import write_mmdb

_SUBDIV_PER_BLOCK = {0: (19, 1), 1: (20, 2), 2: (21, 4), 3: (22, 8)}

_CONTINENTS = [
    ("AF", "Africa"), ("AN", "Antarctica"), ("AS", "Asia"),
    ("EU", "Europe"), ("NA", "North America"), ("OC", "Oceania"),
    ("SA", "South America"),
]


def city_record(j: int) -> dict:
    """Distinct city record ``j`` — field shapes mirror GeoLite2-City
    (en names, iso codes, location floats, postal, one subdivision)."""
    cc = j % 250
    cont = _CONTINENTS[cc % 7]
    return {
        "city": {"geoname_id": 100000 + j, "names": {"en": f"City {j}"}},
        "continent": {
            "code": cont[0],
            "geoname_id": 6255146 + (cc % 7),
            "names": {"en": cont[1]},
        },
        "country": {
            "geoname_id": 200000 + cc,
            "iso_code": f"{chr(65 + cc % 26)}{chr(65 + (cc // 26) % 26)}",
            "names": {"en": f"Country {cc}"},
        },
        "location": {
            "accuracy_radius": 1 + j % 1000,
            # plain IEEE divide+add (no rounding): an independent SQL
            # oracle recomputing these gets bit-identical doubles
            "latitude": -90.0 + (j % 18000) / 100.0,
            "longitude": -180.0 + (j % 36000) / 100.0,
            "time_zone": f"Zone/Region_{j % 400}",
        },
        "postal": {"code": f"{j % 100000:05d}"},
        "subdivisions": [
            {
                "geoname_id": 300000 + j % 4000,
                "iso_code": f"S{j % 100:02d}",
                "names": {"en": f"Subdivision {j % 4000}"},
            }
        ],
    }


def asn_record(j: int) -> dict:
    return {
        "autonomous_system_number": 1000 + j,
        "autonomous_system_organization": f"Synthetic Org {j} LLC",
    }


_SPUR_INFRA = ["DATACENTER", "MOBILE", "RESIDENTIAL", "SATELLITE", ""]
_SPUR_SERVICES = [["VPN"], ["PROXY"], ["VPN", "PROXY"], ["TOR"]]


def spur_record(j: int) -> dict:
    """Distinct Spur feed record ``j`` — camelCase field names per the
    Spur feed-export convention the reference deserializes
    (/root/reference/src/spurdb.rs:61-71: clientCount, infrastructure,
    locationCity/Country/State, services, tag).  Every third record
    omits ``services`` and every fifth omits ``tag`` so the
    None-handling paths (spurdb.rs:183 unwrap_or_default) are exercised
    at scale, not just in the toy fixture."""
    rec = {
        "clientCount": float(j % 5000) / 4.0,
        "infrastructure": _SPUR_INFRA[j % 5],
        "locationCity": f"City {j % 9000}",
        "locationCountry": f"{chr(65 + j % 26)}{chr(65 + (j // 26) % 26)}",
        "locationState": f"State {j % 600}",
    }
    if j % 3 != 0:
        rec["services"] = _SPUR_SERVICES[j % 4]
    if j % 5 != 0:
        rec["tag"] = f"tag{j % 40}"
    return rec


def record_index(i: int, n_records: int) -> int:
    """Network i -> distinct-record index (Knuth multiplicative mix so
    adjacent networks rarely share a record, like a real DB)."""
    return (i * 2654435761) % n_records


MAX_NETWORKS = (1 << 19) // 4 * 15  # 1,966,080: the whole v4 space tiled


def _iter_networks(n_networks: int):
    """Yield (index, cidr) deterministically until n_networks emitted."""
    if n_networks > MAX_NETWORKS:
        raise ValueError(
            f"tiling covers at most {MAX_NETWORKS} networks (asked {n_networks})"
        )
    i = 0
    block = 0
    while i < n_networks:
        plen, cnt = _SUBDIV_PER_BLOCK[block % 4]
        start = block * 8192  # a /19 spans 2^(32-19) = 8192 addresses
        step = 1 << (32 - plen)
        for k in range(cnt):
            if i >= n_networks:
                break
            addr = start + k * step
            yield i, f"{addr >> 24 & 255}.{addr >> 16 & 255}.{addr >> 8 & 255}.{addr & 255}/{plen}"
            i += 1
        block += 1


# v6 tiling mirrors the v4 scheme under 2600::/12 (realistic global-
# unicast space; a real GeoLite2-City carries ~0.5-1M v6 ranges):
# /29 block ``b`` is emitted as one /29, two /30s, four /31s or eight
# /32s by ``b % 4``.  v6 network ``i`` CONTINUES the v4 index (its
# record is ``record_index(n_v4 + i, n_records)``), and 2600::/12 keys
# sort after every v4-mapped key, so appending v6 entries keeps the
# writer's sorted-path fast path.
_SUBDIV_PER_BLOCK_V6 = {0: (29, 1), 1: (30, 2), 2: (31, 4), 3: (32, 8)}
V6_BASE = 0x260 << 116  # 2600::/12
_V6_BLOCK_SPAN = 1 << (128 - 29)
MAX_V6_NETWORKS = (1 << (29 - 12)) // 4 * 15  # 491,520


def _iter_v6_networks(n_networks: int):
    """Yield (index, cidr) deterministically until n_networks emitted."""
    import ipaddress

    if n_networks > MAX_V6_NETWORKS:
        raise ValueError(
            f"v6 tiling covers at most {MAX_V6_NETWORKS} networks (asked {n_networks})"
        )
    i = 0
    block = 0
    while i < n_networks:
        plen, cnt = _SUBDIV_PER_BLOCK_V6[block % 4]
        start = V6_BASE + block * _V6_BLOCK_SPAN
        step = 1 << (128 - plen)
        for k in range(cnt):
            if i >= n_networks:
                break
            yield i, f"{ipaddress.IPv6Address(start + k * step)}/{plen}"
            i += 1
        block += 1


def synth_entries(
    n_networks: int, n_records: int, make_record, n_v6_networks: int = 0
) -> tuple[list[tuple[str, dict]], list[dict]]:
    """(cidr, record) entries over ``n_records`` SHARED record objects
    (record-object reuse is what a real DB's data-section dedup looks
    like, and what keeps the writer's encode cost O(n_records))."""
    records = [make_record(j) for j in range(n_records)]
    entries = [
        (cidr, records[record_index(i, n_records)]) for i, cidr in _iter_networks(n_networks)
    ]
    entries.extend(
        (cidr, records[record_index(n_networks + i, n_records)])
        for i, cidr in _iter_v6_networks(n_v6_networks)
    )
    return entries, records


def write_synthetic_geolite(
    db_dir: str | Path,
    n_city_networks: int = 1_900_000,
    n_city_records: int = 120_000,
    n_asn_networks: int = 500_000,
    n_asn_records: int = 70_000,
    n_city_v6_networks: int = 0,
    n_asn_v6_networks: int = 0,
) -> dict:
    """Write GeoLite2-City.mmdb + GeoLite2-ASN.mmdb shaped files into
    ``db_dir``; returns per-file network/record counts and byte sizes."""
    db_dir = Path(db_dir)
    db_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for name, n_nets, n_v6, n_recs, make in (
        ("GeoLite2-City.mmdb", n_city_networks, n_city_v6_networks,
         n_city_records, city_record),
        ("GeoLite2-ASN.mmdb", n_asn_networks, n_asn_v6_networks,
         n_asn_records, asn_record),
    ):
        entries, _ = synth_entries(n_nets, n_recs, make, n_v6_networks=n_v6)
        path = db_dir / name
        write_mmdb(path, entries, database_type=name.split(".")[0])
        out[name] = {
            "networks": n_nets,
            "v6_networks": n_v6,
            "distinct_records": n_recs,
            "bytes": path.stat().st_size,
        }
    return out


_ASIA = {"code": "AS", "names": {"en": "Asia"}}

# The enrichment goldens (FIXTURES.md §5): 67.43.156.1 carries an
# org-less ASN and a country-level City record, 240b::beef:0:24 is in
# ASN only, 202.196.224.99 in City only, and 192.168.1.1 in neither.
# The prefix lengths are not documented; any network holding the
# address serves.
GOLDEN_GEOLITE = {
    "GeoLite2-ASN.mmdb": [
        ("67.43.156.0/24", {"autonomous_system_number": 35908}),
        ("240b::/24", {
            "autonomous_system_number": 2516,
            "autonomous_system_organization": "KDDI KDDI CORPORATION",
        }),
    ],
    "GeoLite2-City.mmdb": [
        ("67.43.156.0/24", {
            "continent": _ASIA,
            "country": {"iso_code": "BT", "names": {"en": "Bhutan"}},
            "location": {
                "latitude": 27.5, "longitude": 90.5, "time_zone": "Asia/Thimphu",
            },
        }),
        ("202.196.224.0/20", {
            "continent": _ASIA,
            "country": {"iso_code": "PH", "names": {"en": "Philippines"}},
            "location": {
                "latitude": 13.0, "longitude": 122.0, "time_zone": "Asia/Manila",
            },
            "postal": {"code": "34021"},
        }),
    ],
}


def write_golden_geolite(db_dir: str | Path) -> Path:
    """Write the golden GeoLite2-ASN/City pair into ``db_dir`` and
    return it.  Laid out like the reference's test files: 28-bit
    records, IPv4 under ::/96 with ::ffff:0:0/96 aliased to it."""
    db_dir = Path(db_dir)
    db_dir.mkdir(parents=True, exist_ok=True)
    for name, entries in GOLDEN_GEOLITE.items():
        write_mmdb(
            db_dir / name, entries, database_type=name.split(".")[0],
            record_size=28, ipv4_aliased=True,
        )
    return db_dir


def write_synthetic_spur(
    db_dir: str | Path,
    n_networks: int = 1_500_000,
    n_records: int = 100_000,
    n_v6_networks: int = 300_000,
) -> dict:
    """Write a deployment-sized ``spur.mmdb`` into ``db_dir`` (a real
    Spur anonymous/anonymous-residential feed carries ~1-2M entries).
    Same deterministic tiling as the GeoLite2 synthesizer, so
    :func:`expected_city_record_index` /
    :func:`expected_city_v6_record_index` (tiling-generic despite the
    name) serve as independent arithmetic oracles for spot checks."""
    db_dir = Path(db_dir)
    db_dir.mkdir(parents=True, exist_ok=True)
    entries, _ = synth_entries(
        n_networks, n_records, spur_record, n_v6_networks=n_v6_networks
    )
    path = db_dir / "spur.mmdb"
    write_mmdb(path, entries, database_type="spur")
    return {
        "spur.mmdb": {
            "networks": n_networks,
            "v6_networks": n_v6_networks,
            "distinct_records": n_records,
            "bytes": path.stat().st_size,
        }
    }


def expected_city_record_index(addr_int: int, n_networks: int, n_records: int) -> int | None:
    """Independent oracle: which distinct-record index should a v4
    address resolve to?  Recomputes the tiling arithmetic without
    touching the MMDB machinery (used by golden spot checks)."""
    block = addr_int // 8192
    plen, cnt = _SUBDIV_PER_BLOCK[block % 4]
    step = 1 << (32 - plen)
    k = (addr_int - block * 8192) // step
    # network index = (networks emitted by all earlier blocks) + k
    full, rem = divmod(block, 4)
    i = full * 15 + sum(_SUBDIV_PER_BLOCK[b][1] for b in range(rem)) + k
    if i >= n_networks:
        return None
    return record_index(i, n_records)


def expected_city_v6_record_index(
    addr_int: int, n_v4_networks: int, n_v6_networks: int, n_records: int
) -> int | None:
    """Independent oracle for the v6 tiling: which distinct-record
    index should a 128-bit v6 address resolve to?  Mirrors
    :func:`expected_city_record_index` for the 2600::/12 scheme."""
    rel = addr_int - V6_BASE
    if rel < 0:
        return None
    block = rel // _V6_BLOCK_SPAN
    plen, cnt = _SUBDIV_PER_BLOCK_V6[block % 4]
    step = 1 << (128 - plen)
    k = (rel - block * _V6_BLOCK_SPAN) // step
    full, rem = divmod(block, 4)
    i = full * 15 + sum(_SUBDIV_PER_BLOCK_V6[b][1] for b in range(rem)) + k
    if i >= n_v6_networks:
        return None
    return record_index(n_v4_networks + i, n_records)
