"""The benchmark's workloads: one timed pass each, its output check, and
the traced layer probes.

A pass reads its seeded input from parquet, runs the engine's public API
and writes every output as parquet. ``layers`` re-runs the pass's calls
one module at a time under spans, each sunk to ``noop`` unless the layer
is the write itself, and derives per-layer self times from them.

``flagship`` never crosses the Arrow boundary and ``curation`` does, so a
change to one side should leave the other flat. The checkpointed job and
the two dedup operators run only in the traced runs: at these sizes their
fixed cost per Spark job (about 1.5 s per checkpointed partition, 4-8 s
per dedup call on 4 cores) does not fit the timed runs.
"""

from __future__ import annotations

import shutil
from pathlib import Path
from statistics import median

from perfbench import inputs, oracles
from perfbench.harness import (
    Tracer, count_files, jobs_in_group, noop, plan_node_counts)

FLAGSHIP_ROWS = 20_000
# rounds of traced probes; a layer's time is the median
REPS = 2
# partitions the checkpointed job runs over in the traced run, and how
# many of them lose their manifest in the simulated crash
CHECKPOINT_PARTITIONS = 6
CRASHED_EVERY = 3
VERDICT_COLS = "partition_key, n_rows, n_failed_rows, n_violations, pass"

CURATION_DOCS = 6_000
CURATION_SKEW = 4_000
CAP_PER_HOST = 5
SEMANTIC_CLUSTERS = 16
# one in HOT_SHARE skew docs carries the hot digest, another the hot LSH
# band; MAX_BUCKET lets both hot cliques pair instead of being skipped
HOT_SHARE = 40
MAX_BUCKET = 2 * CURATION_SKEW // HOT_SHARE

# the document validator compiles `pattern` the way PHP does, inside
# '/' delimiters, so a literal slash has to be escaped
URL_PATTERN = "^https?:\\/\\/"

FLAT_SCHEMA = {
    "type": "object",
    "properties": {
        "url": {"type": "string", "minLength": 10, "pattern": URL_PATTERN},
        "lang": {"type": ["string", "null"], "maxLength": 2},
        "n_chars": {"type": "integer", "minimum": 1, "maximum": 100_000},
        "ts": {"type": "string", "format": "date-time"},
    },
    "required": ["url", "n_chars"],
}


def deep_schema() -> dict:
    from json_schema_spark.sources.webtext import LANG_ALLOWLIST

    return {
        "definitions": {
            "url": {"type": "string", "format": "uri",
                    "pattern": URL_PATTERN},
            "count": {"type": "integer", "minimum": 1, "maximum": 100_000},
        },
        "type": "object",
        "properties": {
            "url": {"$ref": "#/definitions/url"},
            "lang": {"anyOf": [{"type": "null"},
                               {"type": "string", "enum": LANG_ALLOWLIST}]},
            "n_chars": {"$ref": "#/definitions/count"},
            "ts": {"type": "string", "format": "date-time"},
        },
        "required": ["url", "n_chars"],
    }


def iri_constraints():
    from json_schema_spark.constraints.spec import ConstraintSet

    return ConstraintSet(name="url_iri", columns={"url": {"format": "iri"}})


def _rounds(tracer: Tracer, probes: dict) -> tuple[dict, dict]:
    """Median wall seconds per probe over ``REPS`` rounds, each round
    calling every probe once in a span, so drift during the run (JIT,
    host load) lands on all probes alike. Also returns what
    ``release_caches()`` freed after each probe's last call."""
    from json_schema_spark.cache import release_caches

    walls: dict[str, list[float]] = {name: [] for name in probes}
    released: dict[str, int] = {}
    for _ in range(REPS):
        for name, fn in probes.items():
            with tracer.span(name) as s:
                fn()
            walls[name].append(s.seconds)
            released[name] = release_caches()
    return {name: median(w) for name, w in walls.items()}, released


class Flagship:
    """``flagship.validate_webtext(df).violations()`` from day-partitioned
    webtext parquet to violation parquet."""

    name = "flagship"
    docs = FLAGSHIP_ROWS

    def __init__(self, data: Path, work: Path, seed: int):
        self.key = f"flagship-{FLAGSHIP_ROWS}-s{seed}"
        self.data = data
        self.seed = seed
        self.out = work / "violations"
        self.work = work

    def prepare(self, spark) -> None:
        self.input = inputs.materialise(
            spark, self.data, self.key,
            inputs.build_webtext(FLAGSHIP_ROWS, self.seed))
        self.expected = oracles.flagship_violations(self.input)

    def _violations(self, spark):
        from json_schema_spark.flagship import validate_webtext
        from json_schema_spark.sources.webtext import load_webtext

        return validate_webtext(load_webtext(spark, str(self.input))) \
            .violations()

    def run_pass(self, spark) -> None:
        self._violations(spark).write.mode("overwrite").parquet(
            str(self.out))

    def check(self) -> bool:
        return oracles.written_violations(self.out) == self.expected

    def layers(self, spark, tr: Tracer) -> tuple[dict, list[bool]]:
        from json_schema_spark.checks.uniqueness import uniqueness_violations
        from json_schema_spark.constraints.evaluator import validate
        from json_schema_spark.flagship import webtext_constraints
        from json_schema_spark.sources.webtext import load_webtext

        path = str(self.input)
        cset = webtext_constraints()
        df = load_webtext(spark, path)
        m: dict[str, float] = {}

        row_only = validate(df, cset, id_col="url", dataset_checks=False)
        uniq = uniqueness_violations(df, ["url"])
        t, _ = _rounds(tr, {
            # validate() compiles the constraints and builds the plan
            "constraints.compile":
                lambda: validate(df, cset, id_col="url").violations(),
            "sources.scan": lambda: noop(load_webtext(spark, path)),
            "constraints.projection": lambda: noop(row_only.annotated),
            "constraints.explode": lambda: noop(row_only.violations()),
            "checks.uniqueness": lambda: noop(uniq),
            "flagship.violations_noop":
                lambda: noop(self._violations(spark)),
            "flagship.pass": lambda: self.run_pass(spark),
        })
        checks = [self.check()]
        m["constraints.compile_s"] = t["constraints.compile"]
        m["sources.scan_s"] = t["sources.scan"]
        m["constraints.projection_s"] = (t["constraints.projection"]
                                         - t["sources.scan"])
        m["constraints.explode_s"] = (t["constraints.explode"]
                                      - t["constraints.projection"])
        m["checks.uniqueness_s"] = t["checks.uniqueness"]
        m["sources.write_s"] = (t["flagship.pass"]
                                - t["flagship.violations_noop"])
        m["constraints.violation_rows"] = row_only.violations().count()
        m["checks.uniqueness_rows"] = uniq.count()

        viol = self._violations(spark)
        viol._jdf.queryExecution().executedPlan().execute().count()
        nodes = plan_node_counts(viol)
        m["plan.scan_nodes"] = nodes.get("FileSourceScanExec", 0)
        m["plan.exchange_nodes"] = nodes.get("ShuffleExchangeExec", 0)
        m["plan.broadcast_nodes"] = nodes.get("BroadcastExchangeExec", 0)

        layer_sum = sum(m[k] for k in (
            "constraints.compile_s", "sources.scan_s",
            "constraints.projection_s", "constraints.explode_s",
            "checks.uniqueness_s", "sources.write_s"))
        m["trace.pass_s"] = t["flagship.pass"]
        m["trace.layer_sum_ratio"] = layer_sum / t["flagship.pass"]
        ops_m, ops_ok = self._checkpoint_layers(spark, tr, cset)
        m.update(ops_m)
        return m, checks + ops_ok

    def _checkpoint_layers(self, spark, tr: Tracer, cset):
        """The resumable job over a fixed subset of partitions: a fresh
        run one partition per call, a crash that loses every third
        manifest, the resume, and a rerun with every manifest COMPLETE."""
        from pyspark.sql import functions as F

        from json_schema_spark.ops import checkpoint as ck

        df = spark.read.parquet(str(self.input))
        out = self.work / "checkpoint"
        shutil.rmtree(out, ignore_errors=True)
        m: dict[str, float] = {}
        with tr.span("ops.checkpoint.list_partitions") as s:
            parts = ck.list_partitions(df, "warc_day")
        m["ops.checkpoint.list_partitions_s"] = s.seconds
        parts = parts[:CHECKPOINT_PARTITIONS]
        with tr.span("ops.checkpoint.input_files") as s:
            ck.input_files_for(
                df.filter(F.col("warc_day").cast("string") == parts[0]))
        m["ops.checkpoint.input_files_s"] = s.seconds

        sc = spark.sparkContext
        walls, jobs, files = [], [], []
        for p in parts:
            group = f"perfbench-{p}"
            sc.setJobGroup(group, f"run_validation {p}")
            with tr.span("ops.checkpoint.partition") as s:
                ck.run_validation(spark, df, cset, str(out), partitions=[p])
            walls.append(s.seconds)
            jobs.append(jobs_in_group(spark, group))
            files.append(count_files(out / "violations" / f"partition={p}")
                         + count_files(out / "verdicts" / f"partition={p}"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        m["ops.checkpoint.partition_s"] = median(walls)
        m["ops.checkpoint.jobs_per_partition"] = median(jobs)
        m["ops.checkpoint.output_files"] = median(files)

        fresh = (oracles.written_violations(out / "violations"),
                 oracles.written_rows(out / "verdicts", VERDICT_COLS))
        for p in parts[::CRASHED_EVERY]:
            (out / "_manifest" / f"{p}.json").unlink()
        with tr.span("ops.checkpoint.resume") as s:
            ck.run_validation(spark, df, cset, str(out), partitions=parts)
        m["ops.checkpoint.resume_s"] = s.seconds
        with tr.span("ops.checkpoint.skip") as s:
            stats = ck.run_validation(spark, df, cset, str(out),
                                      partitions=parts)
        m["ops.checkpoint.skip_s"] = s.seconds

        resumed = (oracles.written_violations(out / "violations"),
                   oracles.written_rows(out / "verdicts", VERDICT_COLS))
        checks = [
            fresh[0] == oracles.flagship_violations(self.input, parts),
            resumed == fresh,
            sorted(stats.skipped) == sorted(parts),
        ]
        return m, checks


class Curation:
    """JSON documents through the VARIANT path, the Arrow document path
    and a pandas-UDF format constraint, then a Zipf-skewed corpus through
    the per-host cap. The traced run adds the two dedup operators over
    the same corpus, whose fixed per-job cost would not fit the timed
    run."""

    name = "curation"
    docs = CURATION_DOCS + CURATION_SKEW

    def __init__(self, data: Path, work: Path, seed: int):
        self.key = f"curation-{CURATION_DOCS}-{CURATION_SKEW}-s{seed}"
        self.data = data
        self.seed = seed
        self.out = work

    def prepare(self, spark) -> None:
        self.input = inputs.materialise(
            spark, self.data, self.key,
            inputs.build_curation(CURATION_DOCS, CURATION_SKEW, HOT_SHARE,
                                 self.seed))
        self.doc_rows = oracles.load_docs(self.input / "docs")
        self.expect_flat = oracles.document_verdicts(self.doc_rows,
                                                     FLAT_SCHEMA)
        self.expect_deep = oracles.document_verdicts(self.doc_rows,
                                                     deep_schema())
        self.expect_iri = oracles.iri_failures(self.doc_rows)
        self.expect_capped = oracles.capped_rows(self.input / "skew",
                                                 CAP_PER_HOST)

    # the engine calls of the pass and of the traced probes -------------
    def _docs(self, spark):
        return spark.read.parquet(str(self.input / "docs"))

    def _skew(self, spark):
        return spark.read.parquet(str(self.input / "skew"))

    def _json(self, spark, schema):
        from json_schema_spark.validator.hybrid import validate_json_auto

        return validate_json_auto(self._docs(spark), schema)

    def _iri(self, spark):
        from json_schema_spark.constraints.evaluator import validate

        return validate(self._docs(spark).select("id", "url"),
                        iri_constraints(), id_col="id").violations()

    def _cap(self, spark):
        from pyspark.sql import functions as F

        from json_schema_spark.textops.sampling import cap_per_group

        return cap_per_group(self._skew(spark), "host", CAP_PER_HOST,
                             [F.col("doc_id")], salt_shards=16,
                             id_col="doc_id")

    def _near(self, spark):
        from json_schema_spark.textops.dedup import near_duplicates

        return near_duplicates(self._skew(spark), threshold=0.8,
                               max_bucket_size=MAX_BUCKET)

    def _semantic(self, spark):
        from json_schema_spark.textops.similarity import semantic_dedup

        return semantic_dedup(self._skew(spark), n_clusters=SEMANTIC_CLUSTERS,
                              id_col="doc_id", vec_col="embedding")

    def _write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(str(self.out / name))

    def run_pass(self, spark) -> None:
        self._write(self._json(spark, FLAT_SCHEMA), "flat")
        self._write(self._json(spark, deep_schema()), "deep")
        self._write(self._iri(spark), "iri")
        self._write(self._cap(spark), "capped")

    def check(self) -> bool:
        iri = {int(i) for i in oracles.written_ids(self.out / "iri", "id")}
        return (
            oracles.written_verdicts(self.out / "flat") == self.expect_flat
            and oracles.written_verdicts(self.out / "deep")
            == self.expect_deep
            and iri == self.expect_iri
            and len(oracles.written_ids(self.out / "capped", "doc_id"))
            == self.expect_capped)

    def layers(self, spark, tr: Tracer) -> tuple[dict, list[bool]]:
        from json_schema_spark.constraints.evaluator import validate
        from json_schema_spark.validator.document import compile_schema

        urls = self._docs(spark).select("id", "url")
        t, released = _rounds(tr, {
            "constraints.compile":
                lambda: validate(urls, iri_constraints(), id_col="id")
                .violations(),
            "constraints.pandas_format": lambda: noop(self._iri(spark)),
            "validator.compile_schema": lambda: compile_schema(deep_schema()),
            "validator.variant":
                lambda: noop(self._json(spark, FLAT_SCHEMA)),
            "validator.document":
                lambda: noop(self._json(spark, deep_schema())),
            "textops.cap_per_group": lambda: noop(self._cap(spark)),
            "curation.pass": lambda: self.run_pass(spark),
            # the dedup operators run outside the pass; each persists
            # intermediates that release_caches() frees after the action
            "textops.near_duplicates":
                lambda: self._write(self._near(spark), "pairs"),
            "textops.semantic_dedup":
                lambda: self._write(self._semantic(spark), "kept"),
        })
        checks = [self.check()]
        m = {f"{name}_s": t[name] for name in t if name != "curation.pass"}
        m["validator.udf_body_share"] = oracles.validate_seconds(
            self.doc_rows, deep_schema()) / (
                t["validator.document"]
                * spark.sparkContext.defaultParallelism)
        m["validator.invalid_docs"] = sum(
            1 for ok in oracles.written_verdicts(self.out / "deep").values()
            if not ok)
        layer_sum = sum(m[f"{k}_s"] for k in (
            "constraints.compile", "constraints.pandas_format",
            "validator.compile_schema", "validator.variant",
            "validator.document", "textops.cap_per_group"))
        m["trace.pass_s"] = t["curation.pass"]
        m["trace.layer_sum_ratio"] = layer_sum / t["curation.pass"]
        m["cache.released"] = sum(released.values())
        n_hot = CURATION_SKEW // HOT_SHARE
        pair_rows = oracles.written_rows(self.out / "pairs", "id_a, id_b")
        kept_ids = oracles.written_ids(self.out / "kept", "doc_id")
        m["textops.pairs"] = len(pair_rows)
        m["textops.semantic_kept"] = len(kept_ids)
        checks += [
            # byte-identical hot-digest docs pair with each other
            sum(1 for a, b in pair_rows if a < n_hot and b < n_hot)
            == n_hot * (n_hot - 1) // 2,
            # and collapse to one survivor under semantic dedup
            sum(1 for i in kept_ids if i < n_hot) == 1,
        ]
        return m, checks


WORKLOADS = {w.name: w for w in (Flagship, Curation)}
