"""Output checks that do not run through Spark.

- The flagship constraint set is replayed in DuckDB over the same parquet
  files, with the engine's regex constants and the ``_uri`` component
  replay used by the oracle of the ``kw_formats`` query.
- JSON verdicts are recomputed in-process with ``DocumentValidator``,
  the engine's reference document path, one document at a time.
- The per-host cap is recounted in DuckDB.

Outputs the engine wrote are read back with DuckDB, not Spark.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import duckdb


def _rx(pattern: str) -> str:
    return pattern.replace("'", "''")


def _uri_ok(c: str) -> str:
    """DuckDB predicate mirroring ``formats._uri`` on column ``c``."""
    from json_schema_spark.constraints import formats as FX

    scheme = _rx(FX.RX_URI_SCHEME)
    hier = "^[A-Za-z][A-Za-z0-9+.\\-]*://"
    host = (f"regexp_replace(regexp_replace(regexp_extract({c}, "
            f"'{hier}([^/?#]*)', 1), '^[^@\\[\\]]*@', ''), ':[0-9]*$', '')")
    path = f"regexp_extract({c}, '{hier}[^/?#]*([^?#]*)', 1)"
    frag = f"regexp_extract({c}, '#(.*)$', 1)"
    host_ok = (f"({host} = '' OR regexp_matches({host}, "
               f"'{_rx(FX.RX_HOSTNAME)}') OR regexp_matches(regexp_replace("
               f"{host}, '^\\[([^\\]]+)\\]$', '\\1'), '{_rx(FX.RX_IPV6)}'))")
    chars = _rx(FX.RX_PATH_CHARS)
    return (f"(regexp_matches({c}, '{scheme}') AND "
            f"((regexp_matches({c}, '{hier}') AND {host_ok} AND "
            f"({path} = '' OR regexp_matches({path}, '{chars}')) AND "
            f"({frag} = '' OR regexp_matches({frag}, '{chars}'))) OR "
            f"(NOT regexp_matches({c}, '{hier}') AND regexp_matches("
            f"regexp_replace({c}, '{scheme}', ''), "
            f"'{chars}'))))")


def _parquet(path: Path) -> str:
    quoted = str(path).replace("'", "''")
    return f"read_parquet('{quoted}/**/*.parquet', hive_partitioning = true)"


def flagship_violations(input_dir: Path, partitions: list[str] | None = None
                        ) -> Counter:
    """Replay of ``flagship.webtext_constraints`` as a multiset of
    (url, constraint_id, observed_value). With ``partitions`` the replay
    is restricted to those ``warc_day`` values and uniqueness is counted
    within each partition, the checkpointed job's scope."""
    from json_schema_spark.sources.webtext import LANG_ALLOWLIST

    where = ""
    scope = ""
    if partitions is not None:
        days = ", ".join(f"DATE '{p}'" for p in partitions)
        where = f"WHERE warc_day IN ({days})"
        scope = ", warc_day"
    langs = ", ".join(f"'{code}'" for code in LANG_ALLOWLIST)
    sql = f"""
WITH t AS (SELECT url, text, lang, warc_day FROM {_parquet(input_dir)} {where})
SELECT url, 'url.format', url FROM t WHERE NOT {_uri_ok('url')}
UNION ALL
SELECT url, 'url.pattern', url FROM t WHERE NOT regexp_matches(url, '^https?://')
UNION ALL
SELECT url, 'text.minLength', text FROM t WHERE length(text) < 1
UNION ALL
SELECT url, 'text.maxLength', text FROM t WHERE length(text) > 100000
UNION ALL
SELECT url, 'text.pattern', text FROM t WHERE NOT regexp_matches(text, '\\S')
UNION ALL
SELECT url, 'lang.enum', lang FROM t WHERE lang NOT IN ({langs})
UNION ALL
SELECT url, 'lang.referential', lang FROM t WHERE lang NOT IN ({langs})
UNION ALL
SELECT url, 'url.unique', url FROM (
  SELECT url, count(*) OVER (PARTITION BY url{scope}) AS n FROM t) d
WHERE n > 1
"""
    with duckdb.connect() as con:
        return Counter(con.sql(sql).fetchall())


def written_violations(path: Path) -> Counter:
    """Violation rows the engine wrote as parquet under ``path``."""
    with duckdb.connect() as con:
        return Counter(con.sql(
            f"SELECT url, constraint_id, observed_value "
            f"FROM {_parquet(path)}").fetchall())


def written_verdicts(path: Path) -> dict[int, bool]:
    with duckdb.connect() as con:
        return dict(con.sql(
            f"SELECT id, valid FROM {_parquet(path)}").fetchall())


def written_rows(path: Path, cols: str) -> list[tuple]:
    with duckdb.connect() as con:
        return sorted(con.sql(
            f"SELECT {cols} FROM {_parquet(path)}").fetchall())


def written_ids(path: Path, col: str) -> list:
    return [r[0] for r in written_rows(path, col)]


def load_docs(docs_dir: Path) -> list[tuple[int, str | None, str | None]]:
    with duckdb.connect() as con:
        return con.sql(f"SELECT id, url, json FROM {_parquet(docs_dir)} "
                       f"ORDER BY id").fetchall()


def document_verdicts(docs, schema: dict) -> dict[int, bool]:
    """Per-document verdicts of the in-process document validator, with
    the document path's conventions: SQL NULL validates as JSON null and
    malformed JSON fails."""
    from json_schema_spark.errors import ValidationError
    from json_schema_spark.validator.document import (
        DocumentValidator, compile_schema)

    compiled = compile_schema(schema)
    validator = DocumentValidator()
    out = {}
    for doc_id, _, raw in docs:
        try:
            validator.validate(None if raw is None else json.loads(raw),
                               compiled)
            out[doc_id] = True
        except (ValueError, ValidationError):
            out[doc_id] = False
    return out


def validate_seconds(docs, schema: dict) -> float:
    """Seconds spent inside ``DocumentValidator.validate`` over ``docs``,
    JSON decoding excluded."""
    import time

    from json_schema_spark.errors import ValidationError
    from json_schema_spark.validator.document import (
        DocumentValidator, compile_schema)

    compiled = compile_schema(schema)
    validator = DocumentValidator()
    total = 0.0
    for _, _, raw in docs:
        try:
            data = None if raw is None else json.loads(raw)
        except ValueError:
            continue
        t0 = time.perf_counter()
        try:
            validator.validate(data, compiled)
        except ValidationError:
            pass
        total += time.perf_counter() - t0
    return total


def iri_failures(docs) -> set[int]:
    from json_schema_spark.validator.checks import check_iri

    return {doc_id for doc_id, url, _ in docs
            if url is not None and not check_iri(url)}


def capped_rows(skew_dir: Path, per_host: int) -> int:
    with duckdb.connect() as con:
        return con.sql(
            f"SELECT sum(least(n, {per_host})) FROM (SELECT host, count(*) n "
            f"FROM {_parquet(skew_dir)} GROUP BY host)").fetchone()[0]
