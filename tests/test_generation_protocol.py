"""The staged-generation protocol every lake artifact shares
(streaming/ingest.py module docstring): a staged generation WITHOUT
its commit record rolls back and leaves the live dir intact; one WITH
it rolls forward, replaces the live dir and drops the incr partitions
it covers.  The lakes are built from plain files and marker files, so
no Spark job runs — the slow tier's crash tests cover the same
protocol over real artifacts."""

from __future__ import annotations

import pytest

from kafka_sparkstreaming_sbt_spark.streaming import ingest

#: layout -> (recover, live dir, staging dir, commit record, covered
#: incr dir, incr ids left by a roll-forward); paths relative to the
#: artifact root, which is what ``recover`` is called with
LAYOUTS = {
    "compaction": (
        ingest.recover_compaction, "batch_id=2", "_compact/upto=3",
        "_SUCCESS", "", [2, 3],
    ),
    "bloom": (
        ingest.recover_exact_screen, "bloom/base", "bloom/_rebuild/upto=3",
        "_SUCCESS", "bloom/incr", [3],
    ),
    "quality": (
        ingest.recover_quality_model, "current", "_rebuild/upto=3",
        "_UPTO=3", None, None,
    ),
    "quantizer": (
        ingest.recover_semantic_quantizer, "quantizer", "_rebuild/upto=3",
        "_UPTO=3", "incr", [3],
    ),
}


@pytest.mark.parametrize(
    "committed", [False, True], ids=["roll_back", "roll_forward"]
)
@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_staged_generation_recovers_both_crash_phases(
    spark, tmp_path, layout, committed
):
    recover, live, staging, record, incr, forward_ids = LAYOUTS[layout]

    def put(*parts: str, text: str = "") -> None:
        path = tmp_path.joinpath(*filter(None, parts))
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)

    if incr is not None:
        for k in range(4):
            put(incr, f"batch_id={k}", "part", text=f"incr{k}")
    put(live, "part", text="old")
    put(live, "_UPTO=0" if record.startswith("_UPTO") else "_SUCCESS")
    put(staging, "part", text="new")
    if committed:
        put(staging, record)

    recover(spark, str(tmp_path))

    assert not (tmp_path / staging).parent.exists()  # staging root gone
    assert (tmp_path / live / "part").read_text() == (
        "new" if committed else "old"
    )
    if incr is not None:
        assert ingest._list_batch_ids(spark, str(tmp_path / incr)) == (
            forward_ids if committed else [0, 1, 2, 3]
        )
    # recovery is idempotent
    recover(spark, str(tmp_path))
    assert (tmp_path / live / "part").read_text() == (
        "new" if committed else "old"
    )
