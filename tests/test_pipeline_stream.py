"""Stage-gates for the served pipeline: the streaming twin
(score-on-ingest, select-at-snapshot) is bit-identical to the one-shot
batch composition — what lets it share corpus_pipeline_served's spliced
oracle — and both arms of the batch composition's fold gate agree."""

from udacity_dend_capstone_immigration_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_streamed_pipeline_equals_one_shot(spark):
    batch = sorted(
        map(tuple, QUERIES["corpus_pipeline_served"](spark, SF_DIR).collect())
    )
    streamed = sorted(
        map(tuple, QUERIES["corpus_pipeline_streamed"](spark, SF_DIR).collect())
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_pipeline_fold_gate_arms_agree(spark, monkeypatch):
    """Both arms of the served pipeline's estimate-gated fold, forced:
    the one-job fold (window select) and the checkpoint-first shape
    (range select) return the same rows."""
    from udacity_dend_capstone_immigration_spark.workload import pipeline

    arms = {}
    for fold in (True, False):
        monkeypatch.setattr(pipeline, "_FOLD_SELECT_OVERRIDE", fold)
        arms[fold] = sorted(
            map(tuple, QUERIES["corpus_pipeline_served"](spark, SF_DIR).collect())
        )
    assert arms[True] == arms[False]
    assert len(arms[True]) > 0
