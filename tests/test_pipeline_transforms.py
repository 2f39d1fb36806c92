"""Declarative transforms in the YAML dialect: the curation funnel as pure
config, equal to the hand-built operator composition."""

from __future__ import annotations

import pytest
import yaml

from odp_dynamic_data_pipeline_spark.operators import dedup as dd
from odp_dynamic_data_pipeline_spark.operators import text as tx
from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline
from odp_dynamic_data_pipeline_spark.sources.catalog import load_table

SPEC = """
pipeline_name: curation_demo
stages:
  curate:
    description: quality gate -> fingerprint -> dedup -> chunk, from config
    input:
      format: parquet
      path: "{sf}/documents.parquet"
    transforms:
      - op: quality
      - op: filter
        expr: "n_tokens >= 10"
      - op: fingerprint
      - op: dedup_exact
        key_cols: fingerprint
        id_col: doc_id
      - op: chunk
        chunk_tokens: 32
        stride: 24
        id_cols: [doc_id, lang]
"""

SF = "/root/testdata/sf0.001"


def test_yaml_transforms_equal_hand_built(spark):
    p = Pipeline(yaml.safe_load(SPEC))
    out = p.compile(spark, path_vars={"sf": SF})[0]["curate"]

    docs = load_table(spark, SF, "documents")
    hand = tx.quality_features(docs).where("n_tokens >= 10")
    hand = tx.fingerprint(hand)
    hand = dd.exact_dedup(hand, "fingerprint", "doc_id")
    hand = tx.chunk_documents(hand, chunk_tokens=32, stride=24, id_cols=["doc_id", "lang"])

    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in hand.collect()}
    assert got == want and len(got) > 0


def test_yaml_transform_unknown_op_raises(spark):
    import pytest

    bad = yaml.safe_load(SPEC.replace("op: quality", "op: frobnicate"))
    with pytest.raises(ValueError, match="frobnicate"):
        Pipeline(bad).compile(spark, path_vars={"sf": SF})


def test_yaml_transform_misspelled_argument_raises(spark):
    """A key the op's operator does not take is an error naming the op,
    not a silent fall-back to the operator's default column."""
    import pytest

    bad = yaml.safe_load(SPEC.replace("chunk_tokens: 32", "text_column: scrubbed\n        chunk_tokens: 32"))
    with pytest.raises(TypeError, match="'chunk'.*text_column"):
        Pipeline(bad).compile(spark, path_vars={"sf": SF})


def _bad_output_format(stages):
    stages["stage_3"]["output"]["format"] = "jsonl"


def _output_without_path(stages):
    del stages["stage_3"]["output"]["path"]


def _read_unwritten_mapping(stages):
    stages["stage_2"]["mappings"]["read"][0]["name"] = "no_such_mapping"


@pytest.mark.parametrize(
    "mutate, match",
    [
        (_bad_output_format, "stage_3.*jsonl"),
        (_output_without_path, "stage_3.*path"),
        (_read_unwritten_mapping, "stage_2.*no_such_mapping"),
    ],
    ids=["bad_format", "output_without_path", "read_unwritten_mapping"],
)
def test_bad_output_format_fails_before_any_sink(spark, tmp_path, mutate, match):
    """A bad spec -- an unknown output format, an output without a path, or
    a read of a mapping no stage writes -- fails before any stage drains
    or writes anything."""
    spec = yaml.safe_load(open("pipelines/observability_correlation_pipeline.yaml"))
    mutate(spec["stages"])
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    work_dir = tmp_path / "work"
    with pytest.raises(ValueError, match=match):
        Pipeline(spec).run(
            spark, hour="2024111612",
            path_vars={"data_dir": "tests/fixtures/reference_hour", "out_dir": str(out_dir)},
            work_dir=str(work_dir),
        )
    assert list(out_dir.iterdir()) == []
    assert not work_dir.exists() or list(work_dir.iterdir()) == []


def test_op_table_covers_shipped_and_traced_ops():
    """Every op the shipped YAMLs use and every op the benchmark traces a
    self time for is in TRANSFORMS: renaming an op fails here, not as a
    silently zero traced metric."""
    from perfbench.workloads import CORPUS_OPS

    from odp_dynamic_data_pipeline_spark.plans.pipeline import TRANSFORMS

    assert set(CORPUS_OPS) <= set(TRANSFORMS)
    for path in ("pipelines/corpus_curation_pipeline.yaml",
                 "pipelines/observability_correlation_pipeline.yaml"):
        stages = yaml.safe_load(open(path))["stages"].values()
        ops = {t["op"] for st in stages for t in st.get("transforms") or []}
        assert ops <= set(TRANSFORMS), (path, ops - set(TRANSFORMS))


PACK_SPEC = """
pipeline_name: shard_prep
stages:
  scrub_and_pack:
    description: boilerplate scrub stats + packing manifest, from config
    input:
      format: parquet
      path: "{sf}/documents.parquet"
    transforms:
      - op: pack_sequences
        seq_tokens: 128
        part_col: lang
"""


def test_yaml_pack_sequences_equals_operator(spark):
    p = Pipeline(yaml.safe_load(PACK_SPEC))
    out = p.compile(spark, path_vars={"sf": SF})[0]["scrub_and_pack"]
    hand = tx.pack_sequences(
        load_table(spark, SF, "documents").select("lang", "doc_id", "text"),
        seq_tokens=128,
    )
    got = {(r["lang"], r["doc_id"]): (r["seq_id"], r["seq_offset"]) for r in out.collect()}
    want = {(r["lang"], r["doc_id"]): (r["seq_id"], r["seq_offset"]) for r in hand.collect()}
    assert got == want and len(got) > 0


BP_SPEC = """
pipeline_name: scrub_demo
stages:
  scrub:
    description: repeated-block removal from config
    input:
      format: parquet
      path: "{sf}/documents.parquet"
    transforms:
      - op: boilerplate_scrub
        block_tokens: 4
        min_docs: 3
"""


def test_yaml_boilerplate_scrub_equals_operator(spark):
    p = Pipeline(yaml.safe_load(BP_SPEC))
    out = p.compile(spark, path_vars={"sf": SF})[0]["scrub"]
    hand = tx.boilerplate_scrub(
        load_table(spark, SF, "documents").select("doc_id", "text"),
        block_tokens=4, min_docs=3,
    )
    got = {r["doc_id"]: (r["n_blocks"], r["n_dropped"]) for r in out.collect()}
    want = {r["doc_id"]: (r["n_blocks"], r["n_dropped"]) for r in hand.collect()}
    assert got == want and len(got) > 0


RP_SPEC = """
pipeline_name: proj_demo
stages:
  proj:
    description: JL projection + budget from config
    input:
      format: parquet
      path: "{sf}/embeddings.parquet"
    transforms:
      - op: random_projection
        out_dim: 8
"""

BUDGET_SPEC = """
pipeline_name: budget_demo
stages:
  alloc:
    description: Hamilton budget from config
    input:
      format: parquet
      path: "{sf}/documents.parquet"
    transforms:
      - op: allocate_token_budget
        budget: 999983
"""


def test_yaml_random_projection_equals_operator(spark):
    from odp_dynamic_data_pipeline_spark.operators.similarity import random_projection

    p = Pipeline(yaml.safe_load(RP_SPEC))
    out = p.compile(spark, path_vars={"sf": SF})[0]["proj"]
    hand = random_projection(
        load_table(spark, SF, "embeddings"), out_dim=8
    )
    got = {r["vec_id"]: list(r["proj"]) for r in out.collect()}
    want = {r["vec_id"]: list(r["proj"]) for r in hand.collect()}
    assert got == want and len(got) > 0


def test_yaml_token_budget_quota_exact(spark):
    p = Pipeline(yaml.safe_load(BUDGET_SPEC))
    out = p.compile(spark, path_vars={"sf": SF})[0]["alloc"].collect()
    assert sum(r["quota_tokens"] for r in out) == 999983


def test_shipped_corpus_pipeline_compiles_and_curates(spark):
    """The shipped corpus_curation_pipeline.yaml compiles to lazy plans
    whose results match the hand-built operator chain."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import exact_dedup
    from odp_dynamic_data_pipeline_spark.plans.pipeline import load_pipeline

    pipe = load_pipeline("pipelines/corpus_curation_pipeline.yaml")
    outs, _ = pipe.compile(spark, path_vars={"sf": SF})
    chunks = outs["curate"]
    budget = outs["budget"].collect()
    vecs = outs["vectors"]

    # budget stage: Hamilton invariant
    assert sum(r["quota_tokens"] for r in budget) == 10_000_000

    # vectors stage: projection + int8 columns exist, row count preserved
    n_emb = load_table(spark, SF, "embeddings").count()
    assert vecs.count() == n_emb
    assert {"proj", "codes", "scale"} <= set(vecs.columns)

    # curate stage: same chunk count as the hand-built chain
    hand = tx.quality_features(load_table(spark, SF, "documents"))
    hand = hand.where("n_tokens >= 5 AND 1000000 * n_unique_tokens >= 200000 * n_tokens")
    hand = tx.scrub_pii(hand)
    hand = tx.fingerprint(hand)
    hand = exact_dedup(hand, ["fingerprint"], "doc_id")
    hand = tx.chunk_documents(hand, chunk_tokens=64, stride=48, id_cols=["doc_id", "lang"])
    assert chunks.count() == hand.count() > 0


def test_shipped_curate_stage_chunks_scrubbed_text(spark, tmp_path):
    """PII planted in a document never reaches a chunk of the shipped
    curate stage: its chunk op reads scrub_pii's output, not the raw text."""
    from pyspark.sql import functions as F

    spec = yaml.safe_load(open("pipelines/corpus_curation_pipeline.yaml"))
    spec["stages"] = {"curate": spec["stages"]["curate"]}
    planted = ["alice.smith@example.com", "+1 (555) 010-4477"]
    docs = load_table(spark, SF, "documents").orderBy("doc_id").limit(40)
    docs = docs.withColumn("text", F.concat_ws(" ", F.lit(planted[0]), "text", F.lit(planted[1])))
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    outs, _ = Pipeline(spec).compile(spark, path_vars={"sf": str(tmp_path)})
    chunks = [r["chunk_text"] for r in outs["curate"].select("chunk_text").collect()]
    assert chunks
    text = " ".join(chunks)
    assert "[EMAIL]" in text and "[PHONE]" in text
    assert not any(p in c or "example.com" in c or "010-4477" in c for c in chunks for p in planted)


def test_yaml_cyclic_mapping_dependency_raises(spark):
    """Two stages each consuming the mapping the other produces must fail
    LOUDLY at plan time (graphlib.CycleError), never hang or pick an
    arbitrary order -- the config-error contract of the compiler."""
    import graphlib

    import pytest

    cyclic = yaml.safe_load(
        """
pipeline_name: cyclic_demo
stages:
  a:
    description: consumes b's mapping, produces a's
    input: {format: parquet, path: "%s/documents.parquet"}
    mappings:
      read: [{name: from_b, key: doc_id}]
      write: [{name: from_a, key: doc_id, value: [lang]}]
  b:
    description: consumes a's mapping, produces b's
    input: {format: parquet, path: "%s/documents.parquet"}
    mappings:
      read: [{name: from_a, key: doc_id}]
      write: [{name: from_b, key: doc_id, value: [lang]}]
"""
        % (SF, SF)
    )
    with pytest.raises(graphlib.CycleError):
        Pipeline(cyclic)
