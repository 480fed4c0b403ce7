"""The ingest entry points' option surface (streaming/ingest.py): each
entry point accepts exactly its declared subset of ``_Lake``'s fields
as keyword options, rejects any other keyword, and validates the
cross-field rules before any Spark work.  No Spark job runs here: the
frames are stand-ins, and the lake's work is stubbed out."""

from __future__ import annotations

import inspect
from types import SimpleNamespace

import pytest

from kafka_sparkstreaming_sbt_spark.streaming import ingest

_TEXT = {"threshold", "shingle_n", "n_bands", "exact", "span_window_tokens"}
_QUALITY = {
    "quality_model", "quality_threshold", "quality_n_buckets",
    "quality_seed",
}
_DRIFT = {"drift_cols", "drift_null_jump", "drift_distinct_drop"}

#: (required positionals, accepted options) of each entry point, as
#: their explicit signatures declared them before the options moved
#: onto ``_Lake``
SURFACE = {
    "run_dedup_ingest_pipeline": (
        ["stream_docs", "corpus_docs", "accepted_dir", "checkpoint_location"],
        _TEXT | _QUALITY | _DRIFT | {
            "on_batch", "compact_every", "target_file_bytes", "quality_dir",
            "quality_negatives", "quality_drift_nats", "on_quality_drift",
            "drift_dir", "on_hold",
        },
    ),
    "screen_micro_batch": (
        ["batch_df", "batch_id", "corpus_docs", "accepted_dir"],
        _TEXT | {"corpus_upto"},
    ),
    "release_held_batches": (
        ["spark", "corpus_docs", "accepted_dir", "drift_dir"],
        _TEXT | _QUALITY | _DRIFT | {
            "corpus_emb", "cells_dir", "semantic_threshold", "method",
            "max_cell_size",
        },
    ),
    "run_semantic_ingest_pipeline": (
        ["stream_emb", "corpus_emb", "accepted_dir", "cells_dir",
         "checkpoint_location"],
        {
            "threshold", "centroids", "n_cells", "vec_col", "id_col",
            "method", "max_cell_size", "compact_every", "target_file_bytes",
            "drift_threshold", "on_batch", "on_drift", "seed",
        },
    ),
    "screen_semantic_micro_batch": (
        ["batch_df", "batch_id", "corpus_emb", "accepted_dir", "cells_dir"],
        {"threshold", "vec_col", "id_col", "method", "max_cell_size"},
    ),
    "run_multimodal_ingest_pipeline": (
        ["stream_docs", "corpus_docs", "corpus_emb", "accepted_dir",
         "cells_dir", "checkpoint_location"],
        _TEXT | _QUALITY | _DRIFT | {
            "semantic_threshold", "centroids", "n_cells", "method",
            "max_cell_size", "drift_dir", "compact_every",
            "target_file_bytes", "on_batch", "on_hold", "seed", "stage_sec",
        },
    ),
    "screen_multimodal_micro_batch": (
        ["batch_df", "batch_id", "corpus_docs", "corpus_emb",
         "accepted_dir", "cells_dir"],
        _TEXT | {
            "semantic_threshold", "method", "max_cell_size", "corpus_upto",
            "stage_sec",
        },
    ),
}


@pytest.mark.parametrize("name", sorted(SURFACE))
def test_entry_point_accepts_exactly_its_options(name):
    required, options = SURFACE[name]
    params = inspect.signature(getattr(ingest, name)).parameters.values()
    assert [p.name for p in params if p.default is p.empty] == required
    assert {p.name for p in params if p.default is not p.empty} == options
    # every option is keyword-only past the required positionals
    assert all(
        p.kind is p.KEYWORD_ONLY for p in params if p.default is not p.empty
    )


@pytest.mark.parametrize("name", sorted(SURFACE))
def test_unknown_keyword_raises_type_error(name):
    required, options = SURFACE[name]
    # an option another entry point accepts is still unknown here
    others = set().union(*(o for _, o in SURFACE.values()))
    others -= options | set(required)
    for kw in ("no_such", min(others)):
        with pytest.raises(TypeError, match=f"unexpected keyword.*'{kw}'"):
            getattr(ingest, name)(*([None] * len(required)), **{kw: 1})
    with pytest.raises(TypeError, match="positional"):
        getattr(ingest, name)(*([None] * (len(required) + 1)))


def _frame():
    return SimpleNamespace(sparkSession=None)


def test_semantic_threshold_keyword_reaches_the_semantic_stage(monkeypatch):
    seen = {}

    def screen(lake, batch, batch_id, corpus_upto=None):
        seen.update(vars(lake))
        return 0

    monkeypatch.setattr(ingest._Lake, "open_keys", lambda lake: None)
    monkeypatch.setattr(ingest._Lake, "checkpoint", lambda lake, df: (df, 0))
    monkeypatch.setattr(ingest._Lake, "screen", screen)
    ingest.screen_semantic_micro_batch(
        _frame(), 0, _frame(), "acc", "cells", threshold=0.77
    )
    assert seen["semantic_threshold"] == 0.77
    assert seen["threshold"] == 0.5  # the text stage's, untouched
    assert seen["id_col"] == "vec_id"
    ingest.screen_multimodal_micro_batch(
        _frame(), 0, _frame(), _frame(), "acc", "cells",
        semantic_threshold=0.66,
    )
    assert seen["semantic_threshold"] == 0.66
    assert seen["id_col"] == "doc_id"  # keyed on doc_id beside text


def test_quality_dir_needs_model_and_negatives():
    for partial in ({}, {"quality_model": _frame()},
                    {"quality_negatives": _frame()}):
        with pytest.raises(ValueError, match="quality_dir requires"):
            ingest.run_dedup_ingest_pipeline(
                _frame(), _frame(), "acc", "ckpt", quality_dir="q", **partial
            )


def test_corpus_emb_and_cells_dir_go_together():
    for half in ({"corpus_emb": _frame()}, {"cells_dir": "cells"}):
        with pytest.raises(ValueError, match="corpus_emb and cells_dir"):
            ingest.release_held_batches(None, _frame(), "acc", "drift", **half)
