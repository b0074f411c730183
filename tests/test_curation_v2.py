"""``training_data_prep_v2`` finishes on the driver when the corpus fits
and runs its distributed plan otherwise. The gate only picks where the
tail runs: both branches must give the same rows, on the test tables and
on small corpora built to hit each edge of the contract."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import etl_airflow_spotify_spark.queries.curation as Q
from etl_airflow_spotify_spark.caching import release_all

EVAL_ID = Q.EVAL_MOD


def _good(i: int, extra: str = "") -> str:
    """20 distinct words no other document uses: passes every gate."""
    return " ".join(f"d{i}w{j}" for j in range(20)) + extra


def _low(text: str) -> str:
    """A repetitive document: its top word fails the gate."""
    return text + " x x x x x x x x"


# (doc_id, lang, text)
MIXED = [
    (EVAL_ID, "en", _good(EVAL_ID)),          # the eval slice
    (2 * EVAL_ID, "en", None),                # eval doc with no text
    (1, "en", _good(1)),
    # the same fingerprint up to case and whitespace: the min id stays
    (2, "en", "  " + _good(2).upper().replace(" ", " \t ")),
    (3, "en", _good(2)),
    (4, "en", None),                          # null text: gated out
    (5, None, _good(5)),                      # null lang: its own group
    # 6 passes the gate, but a second, gated-out row with the same
    # doc_id shares an eval 3-gram: the anti-join drops doc_id 6
    (6, "de", _good(6)),
    (6, "de", _low(f"d{EVAL_ID}w0 d{EVAL_ID}w1 d{EVAL_ID}w2")),
    (7, "de", _good(7, f" d{EVAL_ID}w5 d{EVAL_ID}w6 d{EVAL_ID}w7")),
    (8, "de", _low("z")),
    (9, "de", _good(9)),
    # no text: its null n-gram meets nothing, not even the eval side's
    (9, "de", None),
]
CORPORA = {
    "mixed": MIXED,
    "no_eval": [r for r in MIXED if r[0] % EVAL_ID != 0],
    "empty": [],
}


def _write(tmp_path, rows) -> str:
    ids, langs, texts = zip(*rows) if rows else ((), (), ())
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "lang": pa.array(langs, pa.string()),
                             "text": pa.array(texts, pa.string())}),
                   tmp_path / "documents.parquet")
    return str(tmp_path)


def _branch(spark, sf_dir, monkeypatch, text_bytes_max):
    monkeypatch.setattr(Q, "V2_LOCAL_TEXT_BYTES_MAX", text_bytes_max)
    try:
        df = Q.training_data_prep_v2(spark, sf_dir)
        return df.schema, sorted(map(tuple, df.collect()), key=repr)
    finally:
        release_all()


def _both(spark, sf_dir, monkeypatch):
    local = _branch(spark, sf_dir, monkeypatch, 2 ** 62)
    distributed = _branch(spark, sf_dir, monkeypatch, -1)
    assert local == distributed
    return local[1]


def test_branches_agree_on_the_test_tables(spark, sf_dir, monkeypatch):
    assert _both(spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_branches_agree_on_edge_corpora(spark, tmp_path, monkeypatch,
                                        corpus):
    rows = _both(spark, _write(tmp_path, CORPORA[corpus]), monkeypatch)
    if corpus == "mixed":
        assert rows == sorted([("de", 1, 9, 20), ("en", 2, 3, 40),
                               (None, 1, 5, 20)], key=repr)
    elif corpus == "no_eval":
        assert rows == sorted([("de", 3, 22, 63), ("en", 2, 3, 40),
                               (None, 1, 5, 20)], key=repr)
    else:
        assert rows == []


def test_local_branch_is_one_fetch(spark, sf_dir, jobs_of):
    """The scan, spread's shuffle and nothing else; the result is an
    Arrow-built LocalRelation."""
    df, jobs = jobs_of("v2-local",
                       lambda: Q.training_data_prep_v2(spark, sf_dir))
    assert jobs <= 2
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
