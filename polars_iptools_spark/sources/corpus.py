"""Deterministic synthetic source-code corpus (BASELINE.json input_hint).

Schema: ``(repo string, path string, commit string, lang string,
content string)`` — the exact Iceberg-table shape the record-linkage
pipeline runs over at 10^12-file scale.  Behind :func:`read_corpus`,
parquet and Iceberg catalogs are interchangeable.

Generation is **hash-derived, not RNG-state-derived**: every field of
row *i* is a function of ``sha256(seed:i)`` / ``sha256(seed:entity:e)``,
so generation is embarrassingly parallel (mapInPandas over
``spark.range``), identical at any partitioning, and reproducible at
any scale — the property a 1000-executor generator needs.

Entity model (ground truth for pairwise F1):
- entity *e* owns one canonical public IPv4 indicator; entities are
  packed into shared /24 blocks with a quadratically skewed block-size
  distribution (exercises the salting path);
- each of its records embeds that indicator into lang-templated source
  text — sometimes defanged (``192[.]168...``), sometimes wrapped in an
  XFF-style line — plus noise indicators (private IPs) that the
  extractor must drop;
- record paths are entity-stemmed with per-record suffix variants, so
  pair scoring genuinely needs string similarity, not just IP equality.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CORPUS_SCHEMA

LANGS = ["py", "rs", "go", "js", "c"]
_EXT = {"py": ".py", "rs": ".rs", "go": ".go", "js": ".js", "c": ".c"}

_TEMPLATES = {
    "py": '# {path}\nimport socket\n\nHOST = "{ip}"\nPORT = {port}\n\n'
    "def connect():\n    # {words}\n    return socket.create_connection((HOST, PORT))\n",
    "rs": '// {path}\nconst HOST: &str = "{ip}";\nconst PORT: u16 = {port};\n\n'
    "fn connect() {{\n    // {words}\n    let _ = (HOST, PORT);\n}}\n",
    "go": '// {path}\npackage main\n\nconst host = "{ip}"\nconst port = {port}\n\n'
    "// {words}\nfunc connect() string {{ return host }}\n",
    "js": '// {path}\nconst HOST = "{ip}";\nconst PORT = {port};\n'
    "// {words}\nmodule.exports = {{ HOST, PORT }};\n",
    "c": '/* {path} */\n#define HOST "{ip}"\n#define PORT {port}\n/* {words} */\n',
}

_WORDS = [
    "retry", "backoff", "socket", "timeout", "resolver", "gateway",
    "upstream", "beacon", "proxy", "handler", "config", "client",
]


def _h(s: str) -> bytes:
    return hashlib.sha256(s.encode()).digest()


def _defang(ip: str) -> str:
    return ip.replace(".", "[.]")


# public first octets: 1..223 minus private/loopback/testnet prefixes
_PUBLIC_O1 = [o for o in range(1, 224) if o not in (10, 127, 172, 192)]

# Zipf-skewed /24 capacities inside each /16 slot: 254, 127, 63, ...,
# 2 entities per /24, repeating — the measured-skew path must see both
# packed and sparse blocking keys
_C24 = [max(2, 254 >> (j % 8)) for j in range(256)]
_CUM24 = []
_acc = 0
for _c in _C24:
    _acc += _c
    _CUM24.append(_acc)
_SLOT_CAP = _CUM24[-1]  # entities per /16 slot (16,064)


# hot-block /24 for the skewed-corpus variant: o2=99 is outside the
# slot-assignment space (slots < 219 all map to o2=0), so the hot
# prefix can never collide with a slot-assigned entity IP
HOT_PREFIX = "223.99.0"
MAX_HOT_ENTITIES = 254


def _entity_fields(
    seed: int, e: int, n_entities: int, n_blocks: int, hot_entities: int = 0
) -> dict:
    """Entity e's indicator IP is derived from its GLOBAL rank, not a
    block hash: slot = e // _SLOT_CAP picks an injective (o1, o2) /16,
    and the within-slot rank walks the skewed /24 capacities.  Two
    distinct entities therefore can never mint the same IP (the earlier
    block-hash scheme collided at ~4000 blocks, planting ~2% of pairs
    as indistinguishable-by-construction label noise in the 2.4M-file
    F1).  ``n_blocks`` still shapes the truth-block boundaries used by
    tests; IP placement no longer depends on it."""
    import bisect

    he = _h(f"{seed}:entity:{e}")
    if e < hot_entities:
        # skewed-corpus variant: the first ``hot_entities`` (<=254)
        # entities all live in ONE /24 — with Zipf-inflated cluster
        # sizes this block carries ~100x the average block's rows,
        # which is exactly what the measured-histogram refinement
        # (plans/blocking.py) exists for
        ip = f"{HOT_PREFIX}.{e + 1}"
    else:
        slot = e // _SLOT_CAP
        r = e % _SLOT_CAP
        o1 = _PUBLIC_O1[slot % len(_PUBLIC_O1)]
        o2 = (slot // len(_PUBLIC_O1)) % 256
        third = bisect.bisect_right(_CUM24, r)
        last = r - (_CUM24[third - 1] if third else 0) + 1
        ip = f"{o1}.{o2}.{third}.{last}"
    lang = LANGS[he[8] % len(LANGS)]
    return {
        "entity": e,
        "ip": ip,
        "lang": lang,
        "repo": f"org{he[9] % 20}/repo{he[10] % 50}",
        "stem": f"src/module{he[11] % 30}/svc{e}",
        "port": 1024 + int.from_bytes(he[12:14], "big") % 50000,
    }


@functools.lru_cache(maxsize=4)
def size_plan(
    seed: int,
    n_entities: int,
    records_per_entity: int,
    zipf_sizes: bool,
    hot_entities: int,
    hot_cluster_size: int,
    size_cap: int,
):
    """Per-entity cluster sizes -> cumulative row boundaries (numpy
    int64), or None for the uniform fast path.

    Zipf-ish sizes come from an inverse-CDF over a ONE-SHOT seeded
    uniform array (size = clip(base * u^-0.7, 1, cap)): generated for
    all entities at once and lru-cached per process, so the mapping is
    identical at any partitioning — the same reproducibility property
    as the per-row hash derivation, at 100x the speed of hashing every
    entity id.  The first ``hot_entities`` entities get
    ``hot_cluster_size`` records each (they share one /24 — see
    :func:`_entity_fields`)."""
    if not zipf_sizes and not hot_entities:
        return None
    if hot_entities > MAX_HOT_ENTITIES:
        raise ValueError(f"hot_entities > {MAX_HOT_ENTITIES} (one /24)")
    import numpy as np

    sizes = np.full(n_entities, records_per_entity, dtype=np.int64)
    if zipf_sizes:
        rng = np.random.default_rng(seed)
        u = rng.random(n_entities) + 2**-53
        sizes = np.clip(
            (records_per_entity * u**-0.7).astype(np.int64), 1, size_cap
        )
    if hot_entities:
        sizes[:hot_entities] = hot_cluster_size
    return np.cumsum(sizes)


def _record(
    seed: int,
    i: int,
    records_per_entity: int,
    n_entities: int,
    n_blocks: int,
    e: int | None = None,
    hot_entities: int = 0,
) -> dict:
    if e is None:
        e = i // records_per_entity
    ent = _entity_fields(seed, e, n_entities, n_blocks, hot_entities)
    hr = _h(f"{seed}:row:{i}")
    lang = ent["lang"]
    suffix = ["", "_impl", "_v2", "_test"][hr[1] % 4]
    path = ent["stem"] + suffix + _EXT[lang]
    ip_text = _defang(ent["ip"]) if hr[0] % 3 == 0 else ent["ip"]
    words = " ".join(_WORDS[hr[2 + k] % len(_WORDS)] for k in range(4))
    content = _TEMPLATES[lang].format(
        path=path, ip=ip_text, port=ent["port"], words=words
    )
    if hr[6] % 4 == 0:  # private-IP noise the extractor must drop
        content += f"// fallback 10.{hr[7]}.{hr[8]}.{hr[9] % 254 + 1}\n"
    if hr[10] % 5 == 0:  # XFF-style line with the indicator + noise
        content += (
            f"// X-Forwarded-For: {ent['ip']}:{1024 + hr[11]}, "
            f"192.168.{hr[12]}.{hr[13] % 254 + 1}\n"
        )
    return {
        "repo": ent["repo"],
        "path": path,
        "commit": hashlib.sha1(f"{seed}:{i}".encode()).hexdigest(),
        "lang": lang,
        "content": content,
        "entity": e,
    }


def synth_corpus(
    spark: SparkSession,
    n_entities: int = 500,
    records_per_entity: int = 4,
    n_blocks: int = 50,
    seed: int = 42,
    partitions: int | None = None,
    zipf_sizes: bool = False,
    hot_entities: int = 0,
    hot_cluster_size: int = 200,
    size_cap: int = 48,
) -> tuple[DataFrame, DataFrame]:
    """Returns (corpus, truth).

    corpus: the 5-column input_hint table.
    truth:  (commit, entity) hidden labels, joined back by the unique
            commit key for F1 evaluation.

    Skewed variant (SURVEY §4.2): ``zipf_sizes=True`` draws cluster
    sizes from a heavy-tailed distribution (mean ~3x
    ``records_per_entity``, capped at ``size_cap``), and
    ``hot_entities=k`` packs the first k (<=254) entities into ONE /24
    with ``hot_cluster_size`` records each — a blocking key holding
    ~100x the average block's rows.
    """
    cum = size_plan(
        seed,
        n_entities,
        records_per_entity,
        zipf_sizes,
        hot_entities,
        hot_cluster_size,
        size_cap,
    )
    n = int(cum[-1]) if cum is not None else n_entities * records_per_entity
    if partitions:
        parts = partitions
    else:
        try:
            parts = max(spark.sparkContext.defaultParallelism, 4)
        except Exception:
            # Spark Connect has no sparkContext — fixed fan-out fallback
            parts = 16
    base = spark.range(0, n, 1, parts)
    plan_args = (
        seed,
        n_entities,
        records_per_entity,
        zipf_sizes,
        hot_entities,
        hot_cluster_size,
        size_cap,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cum_w = size_plan(*plan_args)  # lru-cached per worker process
        for b in batches:
            ids = b["id"]
            if cum_w is None:
                ents = [None] * len(ids)
            else:
                import numpy as np

                ents = np.searchsorted(cum_w, ids.to_numpy(), side="right")
            rows = [
                _record(
                    seed,
                    int(i),
                    records_per_entity,
                    n_entities,
                    n_blocks,
                    e=(int(e) if e is not None else None),
                    hot_entities=hot_entities,
                )
                for i, e in zip(ids, ents)
            ]
            yield pd.DataFrame(rows)

    out_schema = (
        "repo string, path string, commit string, lang string, "
        "content string, entity long"
    )
    full = base.mapInPandas(gen, schema=out_schema)
    corpus = full.select("repo", "path", "commit", "lang", "content")
    truth = full.select("commit", "entity")
    return corpus, truth


def read_corpus(spark: SparkSession, source: str) -> DataFrame:
    """Load the corpus table.

    ``source`` is a parquet path, or ``table:<name>`` for a catalog
    (Iceberg) table — the production path on a real cluster; this
    sandbox has no Iceberg runtime jar, so parquet carries the same
    schema (SURVEY.md §7).
    """
    if source.startswith("table:"):
        df = spark.read.table(source[len("table:"):])
    else:
        df = spark.read.parquet(source)
    missing = [f.name for f in CORPUS_SCHEMA.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"corpus table missing columns: {missing}")
    return df.select([f.name for f in CORPUS_SCHEMA.fields])
