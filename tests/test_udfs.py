"""Direct tests of the Arrow batch kernel that the registry's mapInArrow
query runs on the Python workers."""

from __future__ import annotations


def test_arrow_norm_kernel_empty_and_sliced_lists():
    """The reduceat kernel must survive (a) an EMPTY list in any position,
    (b) an empty list in the LAST position (reduceat would IndexError on
    starts == len(values)), and (c) a SLICED ListArray, whose .offsets
    still index the parent buffer while flatten() rebases to the slice."""
    import pyarrow as pa

    from odp_dynamic_data_pipeline_spark.queries.llm_retrieval import arrow_embedding_norm_batches

    def run(batch):
        out = list(arrow_embedding_norm_batches([batch]))
        assert len(out) == 1
        b = out[0]
        return list(zip(
            b.column("vec_id").to_pylist(),
            b.column("norm_sq_e12").to_pylist(),
            b.column("component_sum_e6").to_pylist(),
        ))

    ids = pa.array([1, 2, 3, 4], pa.int64())
    labels = pa.array([0, 0, 1, 1], pa.int32())
    # float32-EXACT values (dyadic rationals) so t = floor(v * 1e6) is exact
    emb = pa.array([[1.5, 2.5], [], [0.5], []], pa.list_(pa.float32()))
    batch = pa.record_batch([ids, labels, emb], names=["vec_id", "label", "embedding"])
    exp = [
        (1, 1_500_000**2 + 2_500_000**2, 4_000_000),
        (2, 0, 0),
        (3, 500_000**2, 500_000),
        (4, 0, 0),
    ]
    assert run(batch) == exp

    # all-empty batch: starts are all len(t)=0
    emb0 = pa.array([[], []], pa.list_(pa.float32()))
    batch0 = pa.record_batch(
        [ids.slice(0, 2), labels.slice(0, 2), emb0], names=["vec_id", "label", "embedding"]
    )
    assert run(batch0) == [(1, 0, 0), (2, 0, 0)]

    # sliced ListArray: offsets index the PARENT values buffer
    sliced = batch.slice(2, 2)
    assert run(sliced) == exp[2:]
