"""The dynamic-pipeline compiler: YAML stage specs -> lazy DataFrame plans.

This is the reference's defining feature re-architected for Spark.  The
reference interprets stages eagerly in YAML dict order, materializing every
stage to JSON and passing derived lookup tables through Redis
(reference: src/data_processor.py:15-42, pipelines/*.yaml).  Here:

* each stage COMPILES to a lazy DataFrame expression (source -> enrichment
  joins -> mapping extraction -> sink); Catalyst sees the whole stage plan
  and pushes filters/prunes columns into the scan;
* mappings are plain DataFrames handed between stages in-process and
  broadcast into enrichment joins -- the Redis hop disappears;
* stage order is derived from the mapping produce/consume graph
  (topological), not dict order -- declaring stages in any order works.

Spec schema (see pipelines/observability_correlation_pipeline.yaml):

    pipeline_name: <name>
    stages:
      <stage>:
        description: <free text>
        input:
          format: json | parquet | stream | kafka   # S1/S2/S3/S4
          path: <path, may contain {hour}>
          schema: <named schema | omitted for parquet>
          stream_format: json | parquet | csv   # file format under a
                                                # ``stream`` input (default json)
          # kafka-format stages (S4), one of:
          bootstrap_servers: <brokers>       # live broker
          topic: <topic>
          options: {starting_offsets: ..., max_offsets_per_trigger: ...}
          wire_path: <dir of archived wire rows>   # broker-less REPLAY
          wire_format: parquet | json        # archive file format
        mappings:                            # optional
          read:                              # enrich via a produced mapping
            - name: <mapping name>
              key_field: <column in this stage's data>
          write:                             # extract a mapping (P2)
            - name: <mapping name>
              key: <dot-path, may cross arrays>
              value: <field | [fields]>
        transforms:                          # optional, applied in order
          - op: <a key of TRANSFORMS>
            <argument>: <value>              # the operator's keyword arguments
        output:                              # optional
          path: <path, may contain {hour}>   # required in an output block
          format: <a key of OUTPUT_FORMATS>  # parquet (default) | json | json_array

``transforms`` makes the operator library itself config-driven: the same
YAML surface the reference drives enrichment with now composes curation
stages (scrub -> fingerprint -> dedup -> chunk) with no Python authored by
the pipeline owner.  ``TRANSFORMS`` maps each op name to its operator; the
op's other keys pass straight through as the operator's keyword arguments,
so its defaults are the operator's signature defaults and a key the
operator does not take is an error.  E.g. ``dedup_exact`` takes
``key_cols`` and ``id_col``, the parameter names of
``operators.dedup.exact_dedup`` (formerly the YAML keys ``keys`` and
``id``).  ``Pipeline`` checks every op, its arguments and every output
format and every output path when it is built, and ``compile`` checks
that every mapping a stage reads is written by a stage (or can come from
``mappings_dir``), so a bad spec fails before any stage runs.

Streaming stages (``input.format: stream``): the reference describes its
stage_1 as CONSUMING a stream -- "Process user experience data" fed by a
sensor-triggered hourly drop (reference: pipelines/...yaml:4,
src/pipeline_dag.py:26,65-88).  Here that compiles to the streaming file
source (``sources.readers.read_file_stream``): the stage's enrichment
joins and expression transforms are applied to the STREAMING DataFrame
(stream-static joins against mapping tables), an AvailableNow run drains
everything currently available into a checkpointed parquet staging table
(``{work_dir}/{stage}_{hour}``), and downstream batch stages plus mapping
extraction read the staged table.  A streaming stage therefore needs a
``work_dir``: ``compile`` refuses one without it, before that stage
drains or writes anything.  The checkpoint makes hourly re-runs
INCREMENTAL: re-compiling the same (work_dir, hour) after new files land
in the source directory processes only the new files and appends them to
the staging table -- the bronze-ingest pattern, replacing the reference's
poll-until-file-exists sensor with exactly-once file-source bookkeeping.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators import dedup as _dedup
from odp_dynamic_data_pipeline_spark.operators import similarity as _sim
from odp_dynamic_data_pipeline_spark.operators import text as _text
from odp_dynamic_data_pipeline_spark.operators.enrich import enrich
from odp_dynamic_data_pipeline_spark.operators.mappings import extract_mapping
from odp_dynamic_data_pipeline_spark.sources import readers, schemas, writers

SCHEMA_REGISTRY = {
    "user_exp": schemas.USER_EXP_SCHEMA,
    "trace": schemas.TRACE_SCHEMA,
    "log": schemas.LOG_SCHEMA,
}


def _as_list(x):
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _with_char_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Each row with its document's character entropy columns."""
    return df.join(_text.char_entropy(df, id_col, text_col), id_col)


# transform op -> operator, called as TRANSFORMS[op](df, **args) with the
# op's YAML keys as ``args``; each op's defaults are its operator's own
TRANSFORMS: dict[str, Callable[..., DataFrame]] = {
    "filter": lambda df, expr: df.where(expr),
    "select": lambda df, exprs: df.selectExpr(*_as_list(exprs)),
    "with_column": lambda df, name, expr: df.withColumn(name, F.expr(expr)),
    "scrub_pii": _text.scrub_pii,
    "fingerprint": _text.fingerprint,
    "quality": _text.quality_features,
    "dedup_exact": _dedup.exact_dedup,
    "chunk": _text.chunk_documents,
    "stratified_sample": _text.stratified_sample,
    "pack_sequences": _text.pack_sequences,
    "boilerplate_scrub": _text.boilerplate_scrub,
    "language_id": _text.language_id,
    "allocate_token_budget": _text.allocate_token_budget,
    "random_projection": _sim.random_projection,
    "quantize_int8": _sim.quantize_int8,
    "with_char_entropy": _with_char_entropy,
    "weighted_sample": _text.weighted_sample,
}

# output format -> name of its writer in ``sources.writers``, looked up at
# write time so that a wrapper installed on the module is the one called
OUTPUT_FORMATS = {
    "parquet": "write_parquet",
    "json": "write_json",
    "json_array": "write_json_array",
}


def _op_args(t: dict) -> tuple[str, dict]:
    return t["op"], {k: v for k, v in t.items() if k != "op"}


@dataclass
class Stage:
    name: str
    spec: dict
    reads: list[dict] = field(default_factory=list)
    writes: list[dict] = field(default_factory=list)

    @classmethod
    def parse(cls, name: str, spec: dict) -> "Stage":
        m = spec.get("mappings") or {}
        return cls(
            name=name,
            spec=spec,
            reads=_as_list(m.get("read")),
            writes=_as_list(m.get("write")),
        )

    def check(self) -> None:
        """Raise on a transform op, an op argument or an output format
        that the tables do not accept, or an output without a path,
        before any stage runs."""
        for t in _as_list(self.spec.get("transforms")):
            op, args = _op_args(t)
            if op not in TRANSFORMS:
                raise ValueError(f"stage {self.name}: unknown transform op {op!r}")
            try:
                inspect.signature(TRANSFORMS[op]).bind(None, **args)
            except TypeError as e:
                raise TypeError(f"stage {self.name}: transform op {op!r}: {e}") from None
        out = self.spec.get("output") or {}
        if out and "path" not in out:
            raise ValueError(f"stage {self.name}: output has no path")
        fmt = out.get("format", "parquet")
        if fmt not in OUTPUT_FORMATS:
            raise ValueError(f"stage {self.name}: unknown output format {fmt!r}")


class Pipeline:
    """Compiled pipeline: lazy stage DataFrames + mapping DataFrames."""

    def __init__(self, spec: dict):
        self.name = spec.get("pipeline_name", "pipeline")
        self.stages = {n: Stage.parse(n, s) for n, s in spec["stages"].items()}
        for st in self.stages.values():
            st.check()
        self.order = self._topo_order()

    def _topo_order(self) -> list[str]:
        """Order stages by mapping produce/consume dependencies (the
        reference relies on implicit dict order -- SURVEY.md section 3.1)."""
        producers: dict[str, str] = {}
        for st in self.stages.values():
            for w in st.writes:
                producers[w["name"]] = st.name
        graph = {
            st.name: {producers[r["name"]] for r in st.reads if r["name"] in producers}
            for st in self.stages.values()
        }
        return list(TopologicalSorter(graph).static_order())

    @staticmethod
    def _fmt(path: str, hour: str | None, path_vars: dict[str, str]) -> str:
        return path.format(**{**path_vars, "hour": hour if hour is not None else "{hour}"})

    @staticmethod
    def _split_stream_path(path: str) -> tuple[str, str | None]:
        """The streaming file source wants a DIRECTORY basePath; a
        file-style template (last segment has an extension dot or a glob
        char) splits into (parent dir, filename glob)."""
        head, _, tail = path.rstrip("/").rpartition("/")
        if not path.endswith("/") and head and any(c in tail for c in ".*?["):
            return head, tail
        return path, None

    @staticmethod
    def _schema(inp: dict):
        """The input's schema: a registry name resolved, or as given."""
        schema = inp.get("schema")
        return SCHEMA_REGISTRY[schema] if isinstance(schema, str) else schema

    @classmethod
    def _resolve_schema(cls, st: Stage, inp: dict, what: str):
        schema = cls._schema(inp)
        if schema is None:
            raise ValueError(
                f"stage {st.name}: a {what} input needs an explicit schema"
                " (streaming sources cannot infer one)"
            )
        return schema

    def _read_input(
        self, spark: SparkSession, st: Stage, hour: str | None, path_vars: dict[str, str]
    ) -> DataFrame:
        inp = st.spec["input"]
        fmt = inp.get("format", "json")
        if fmt == "kafka":
            # S4 as a pipeline stage (reference intent: src/setup.py:4-17,
            # src/config.py:2-3).  Two modes, identical downstream plans:
            # a live broker (bootstrap_servers + topic), or a broker-less
            # wire REPLAY over an archived topic dump (wire_path) -- the
            # mode the sandbox can execute end-to-end.
            struct = self._resolve_schema(st, inp, "kafka")
            wire_path = inp.get("wire_path")
            if wire_path:
                base, glob = self._split_stream_path(
                    self._fmt(wire_path, hour, path_vars)
                )
                return readers.read_kafka_wire_stream(
                    spark, base, struct,
                    wire_format=inp.get("wire_format", "parquet"), glob=glob,
                )
            if not inp.get("bootstrap_servers") or not inp.get("topic"):
                raise ValueError(
                    f"stage {st.name}: a kafka input needs bootstrap_servers"
                    " + topic (live) or wire_path (replay)"
                )
            return readers.read_kafka_stream(
                spark, inp["bootstrap_servers"], inp["topic"],
                schema=struct, **(inp.get("options") or {}),
            )
        path = self._fmt(inp["path"], hour, path_vars)
        if fmt == "parquet":
            return readers.read_parquet(spark, path, hour=hour)
        if fmt == "stream":
            struct = self._resolve_schema(st, inp, "stream")
            base, glob = self._split_stream_path(path)
            return readers.read_file_stream(
                spark, base, struct,
                fmt=inp.get("stream_format", "json"), glob=glob,
                multiline=inp.get("multiline", True),
            )
        return readers.read_json(spark, path, self._schema(inp), hour=hour)

    def _run_stream_stage(
        self, spark: SparkSession, st: Stage, df: DataFrame, hour: str | None,
        work_dir: str,
    ) -> DataFrame:
        """Drain a streaming stage's currently-available input into its
        checkpointed parquet staging table under ``work_dir`` and return
        the staged table as a BATCH DataFrame (the bronze-ingest handoff:
        downstream stages and mapping extraction are batch over the staged
        table).  The lazy outputs read that table, so it lives as long as
        the caller keeps ``work_dir``; a stable one makes re-runs
        incremental (the file-source checkpoint skips already-ingested
        files)."""
        from odp_dynamic_data_pipeline_spark.streaming.stream import run_available_now

        base = f"{work_dir}/{st.name}" + (f"_{hour}" if hour is not None else "")
        run_available_now(
            df,
            format="parquet",
            query_name=f"{self.name}_{st.name}",
            path=f"{base}/data",
            checkpoint=f"{base}/ckpt",
        )
        return spark.read.schema(df.schema).parquet(f"{base}/data")

    def compile(
        self,
        spark: SparkSession,
        hour: str | None = None,
        path_vars: dict[str, str] | None = None,
        mappings_dir: str | None = None,
        work_dir: str | None = None,
    ) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
        """Compile every stage to a lazy DataFrame.  Returns
        (stage outputs, mapping tables); nothing executes until a sink or
        action runs -- EXCEPT streaming stages, whose AvailableNow drain
        runs during compile (their staged output is what downstream
        stages see; see ``_run_stream_stage``).

        ``mappings_dir``: materialize each mapping to parquet and read it
        back -- the cross-process stage handoff (what the reference used
        Redis for, src/data_processor.py:90-98).  Lets each stage run as a
        separate job (Airflow-task style) while staying a plain parquet
        table that any engine can read; in-process (None) keeps the whole
        pipeline one fused lazy plan.

        ``work_dir``: staging + checkpoint root for streaming stages,
        required when a stage streams; pass a stable path to make hourly
        re-runs incremental."""
        if not mappings_dir:
            produced = {w["name"] for st in self.stages.values() for w in st.writes}
            for st in self.stages.values():
                for r in st.reads:
                    if r["name"] not in produced:
                        raise ValueError(
                            f"stage {st.name}: mapping {r['name']!r} is read but"
                            " no stage writes it and no mappings_dir is set"
                        )
        path_vars = path_vars or {}
        outputs: dict[str, DataFrame] = {}
        mappings: dict[str, DataFrame] = {}
        materialized: dict[str, DataFrame] = {}

        def _static_table(mname: str, m: DataFrame) -> DataFrame:
            """A mapping consumed by a STREAM stage must be a concrete
            table, not a computed plan: the static side of a stream-static
            join is re-evaluated per micro-batch, and the last-wins
            extraction's monotonically_increasing_id is rejected inside a
            streaming plan.  Materialize once to parquet and read back
            (exactly what mappings_dir does for cross-job handoff)."""
            if mname not in materialized:
                base = mappings_dir or f"{work_dir}/mappings"
                dest = f"{base}/{mname}"
                m.write.mode("overwrite").parquet(dest)
                materialized[mname] = spark.read.parquet(dest)
            return materialized[mname]

        for name in self.order:
            st = self.stages[name]
            df = self._read_input(spark, st, hour, path_vars)
            if df.isStreaming and work_dir is None:
                raise ValueError(
                    f"stage {st.name}: a streaming stage needs work_dir (the root"
                    " of its staging table and checkpoint)"
                )
            for r in st.reads:
                m = mappings.get(r["name"])
                if m is None and mappings_dir:
                    m = spark.read.parquet(f"{mappings_dir}/{r['name']}")
                if df.isStreaming:
                    m = _static_table(r["name"], m)
                df = enrich(df, m, key_col=r["key_field"], mapping_key="key")
            for t in _as_list(st.spec.get("transforms")):
                op, args = _op_args(t)
                df = TRANSFORMS[op](df, **args)
            if df.isStreaming:
                df = self._run_stream_stage(spark, st, df, hour, work_dir)
            for w in st.writes:
                m = extract_mapping(
                    df, w["key"], _as_list(w["value"]), order_col=w.get("order_by")
                )
                if mappings_dir:
                    dest = f"{mappings_dir}/{w['name']}"
                    m.write.mode("overwrite").parquet(dest)
                    m = spark.read.parquet(dest)
                mappings[w["name"]] = m
            outputs[name] = df
        return outputs, mappings

    def run(
        self,
        spark: SparkSession,
        hour: str | None = None,
        path_vars: dict[str, str] | None = None,
        work_dir: str | None = None,
    ) -> dict[str, DataFrame]:
        """Compile and execute sinks (S5)."""
        outputs, _ = self.compile(spark, hour, path_vars, work_dir=work_dir)
        for name, df in outputs.items():
            sink = self.stages[name].spec.get("output")
            if not sink:
                continue
            path = self._fmt(sink["path"], hour, path_vars or {})
            write = getattr(writers, OUTPUT_FORMATS[sink.get("format", "parquet")])
            write(df, path)
        return outputs


    def run_hours(
        self,
        spark: SparkSession,
        hours: list[str],
        path_vars: dict[str, str] | None = None,
        work_dir: str | None = None,
    ) -> dict[str, dict[str, DataFrame]]:
        """Backfill a list of hourly batches (the reference's Airflow DAG
        re-runs; each hour is an independent pipeline run).  ``work_dir``
        is each run's staging root, as in :meth:`run`."""
        return {
            h: self.run(spark, hour=h, path_vars=path_vars, work_dir=work_dir)
            for h in hours
        }


def load_pipeline(path: str) -> Pipeline:
    with open(path) as f:
        return Pipeline(yaml.safe_load(f))
