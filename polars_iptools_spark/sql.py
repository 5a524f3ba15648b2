"""SQL-text surface: the scalar op family usable from ``spark.sql``.

The reference runs every scalar op contract in BOTH eager and lazy
modes (/root/reference/tests/test_iptools.py:8-27 parametrizes each
golden fixture over the two front-ends).  The Spark analog of that
dual-front-end contract is the DataFrame API and SQL *text*: the same
logical plan built through the Column DSL and through the SQL parser
must agree.  Two mechanisms cover the whole surface:

- :func:`column_sql` — pure-Catalyst ops (is_valid, is_private,
  ipv4_to_numeric, numeric_to_ipv4, is_in fast path, extract_ips v4
  path) render their expression tree to SQL text via the JVM
  ``Expression.sql()``; embedding that text in a ``SELECT`` parses
  back to an equivalent plan.  No UDF, no re-implementation — the
  rendered text IS the DSL-built expression.

- :func:`register_sql_functions` — Arrow-UDF-backed ops (typed
  address round-trip, IPv6-capable extraction) register under
  ``pis_*`` names so SQL text can call them directly.

Parametrized parity tests: tests/test_sql_mode.py.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession


def column_sql(col: Column) -> str:
    """Render a built-in-only Column to SQL text (the JVM expression
    tree's own ``sql()`` form).  Valid for pure-Catalyst expressions;
    a Column wrapping a Python UDF renders a name SQL cannot resolve —
    use :func:`register_sql_functions` for those ops instead."""
    # the JVM Column wraps a ColumnNode; the session's converter lowers
    # it to a Catalyst Expression whose sql() form is parseable text
    # (node().sql() is display-only: it renders prefix operators SQL
    # cannot parse)
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return _rewrite_lambdas(spark._jsparkSession.expression(col._jc).sql())


def _rewrite_lambdas(text: str) -> str:
    """Catalyst's ``LambdaFunction.sql()`` renders the *unparseable*
    ``lambdafunction(<body>, v1[, v2])`` call form; the parser only
    accepts ``v1 -> <body>`` / ``(v1, v2) -> <body>``.  Rewrite every
    occurrence (innermost-first so nested higher-order functions work)."""
    marker = "lambdafunction("
    while True:
        start = text.find(marker)
        if start < 0:
            return text
        # jump to the INNERMOST occurrence so its rewrite happens first
        while True:
            nxt = text.find(marker, start + 1)
            if nxt < 0:
                break
            start = nxt
        open_p = start + len(marker) - 1
        depth, i, in_str = 0, open_p, False
        args, arg_start = [], open_p + 1
        while i < len(text):
            ch = text[i]
            if in_str:
                if ch == "'":
                    # Spark SQL escapes a quote inside a literal as \';
                    # a backslash itself is escaped as \\, so the quote
                    # is escaped only when preceded by an ODD run of
                    # backslashes (a literal ending in '\\' must still
                    # close the string)
                    j = i - 1
                    while j >= 0 and text[j] == "\\":
                        j -= 1
                    if (i - 1 - j) % 2 == 0:
                        in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(text[arg_start:i].strip())
                    break
            elif ch == "," and depth == 1:
                args.append(text[arg_start:i].strip())
                arg_start = i + 1
            i += 1
        if depth != 0 or len(args) < 2:
            raise ValueError(f"unbalanced lambdafunction rendering: {text[start:start+80]!r}")
        body, vs = args[0], args[1:]
        head = vs[0] if len(vs) == 1 else "(" + ", ".join(vs) + ")"
        text = text[:start] + head + " -> " + body + text[i + 1:]


def register_sql_functions(spark: SparkSession, prefix: str = "pis_") -> list[str]:
    """Register the Arrow-UDF-backed scalar ops for SQL-text use.

    Returns the registered function names:
      - ``{prefix}to_address(ip)``   — string/u32/binary -> 16-byte address
      - ``{prefix}to_string(addr)``  — typed address -> canonical string
      - ``{prefix}extract_ips_v6(text)``        — IPv6-capable extraction
      - ``{prefix}extract_public_ips_v6(text)`` — public-only variant

    Enrichment registration is separate (:func:`register_enrichment_sql_functions`)
    because it resolves MMDB paths eagerly.
    """
    from .functions.iptools import _extract_udf_v6, _to_address_udf, _to_string_udf

    regs = {
        f"{prefix}to_address": _to_address_udf,
        f"{prefix}to_string": _to_string_udf,
        f"{prefix}extract_ips_v6": _extract_udf_v6(False, False, False, False),
        f"{prefix}extract_public_ips_v6": _extract_udf_v6(True, False, False, False),
    }
    for name, fn in regs.items():
        spark.udf.register(name, fn)
    return list(regs)


def register_enrichment_sql_functions(
    spark: SparkSession,
    prefix: str = "pis_",
    geoip_dir: str | None = None,
    spur_dir: str | None = None,
) -> list[str]:
    """Register the MMDB-backed enrichment UDFs for SQL-text use:
    ``{prefix}geoip_asn(ip)``, ``{prefix}geoip_full(ip)`` (12-field
    struct) and, when a Spur feed is configured, ``{prefix}spur_full(ip)``.

    The interval tables are decoded and broadcast ONCE at registration
    (same broadcast the Column API uses — registering does not duplicate
    the DB in executor memory).  ``geoip_dir``/``spur_dir`` override
    the ``MAXMIND_MMDB_DIR``/``SPUR_MMDB_DIR`` resolution."""
    from .functions import geoip as _geoip

    regs = {
        f"{prefix}geoip_asn": _geoip.asn_udf(db_dir=geoip_dir),
        f"{prefix}geoip_full": _geoip.full_udf(db_dir=geoip_dir),
    }
    import os as _os

    try:
        from .functions import spur as _spur

        regs[f"{prefix}spur_full"] = _spur.full_udf(db_dir=spur_dir)
    except Exception as exc:
        # a caller who explicitly pointed at a Spur feed (argument or
        # env var) gets the real error instead of a silent missing
        # registration; when Spur was never configured, ANY failure —
        # missing file OR a stale/corrupt spur.mmdb that happens to sit
        # in a default GeoIP dir — must not abort the geoip
        # registration the caller actually asked for.  The suppression
        # is NOT silent: a warning carries the root cause so a user who
        # expected pis_spur_full isn't left with a bare
        # 'undefined function' later.
        if spur_dir is not None or "SPUR_MMDB_DIR" in _os.environ:
            raise
        if not isinstance(exc, FileNotFoundError):
            import warnings

            warnings.warn(
                f"Spur feed found via a default directory but failed to "
                f"load; skipping {prefix}spur_full registration: {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )
    for name, fn in regs.items():
        spark.udf.register(name, fn)
    return list(regs)
