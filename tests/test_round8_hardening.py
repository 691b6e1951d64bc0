"""Targeted tests for the round-7 hardening branches (VERDICT r7 #4/#5):
fitstore's TOCTOU / tmp-cleanup / algo-version paths, content_stamp's
errno contract and in-place-rewrite detection, and the zero-token
fertility group."""

from __future__ import annotations

import errno
import os
import shutil
import uuid

import pytest

from flink_ad_analytics_spark import fitstore
from flink_ad_analytics_spark.sources.batch import content_stamp


def _warehouse(spark) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def _mk_corpus(spark, tmp_path, rows=20):
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [(i, float(i)) for i in range(rows)], "id long, v double"
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    return sf


# -- fitstore.persisted_fit ---------------------------------------------------


def test_persisted_fit_toctou_serves_concurrent_winner(
    spark, tmp_path, monkeypatch
):
    """A concurrent session completing its atomic rename between the
    outer _SUCCESS check and the clear must be SERVED, never deleted:
    simulate the race by making the first _SUCCESS probe miss (the
    outer check sees 'incomplete') while the artifact on disk is in
    fact complete -- the inner re-check must catch it."""
    sf = _mk_corpus(spark, tmp_path)
    # seed a complete artifact exactly where persisted_fit will look
    import hashlib

    stamp = content_stamp(os.path.join(sf, "embeddings.parquet"))
    params = ("toctou",)
    tag = hashlib.md5(
        f"v{fitstore.FIT_ALGO_VERSION}|{sf}|{stamp}|tk|{params}".encode()
    ).hexdigest()[:10]
    loc = os.path.join(_warehouse(spark), f"fit_tk_{tag}")
    anchor = spark.range(1)
    spark.createDataFrame([(42,)], "winner int").write.mode(
        "overwrite"
    ).parquet(loc)
    success = os.path.join(loc, "_SUCCESS")
    assert os.path.exists(success)

    real_exists = os.path.exists
    state = {"misses": 1}

    def racy_exists(p):
        if os.path.abspath(str(p)) == os.path.abspath(success) and state[
            "misses"
        ]:
            state["misses"] -= 1
            return False  # outer check: artifact looks incomplete
        return real_exists(p)

    monkeypatch.setattr(fitstore.os.path, "exists", racy_exists)

    def never_fit():
        raise AssertionError("fit_fn ran over a completed artifact")

    out = fitstore.persisted_fit(anchor, sf, "tk", params, never_fit)
    assert [r.winner for r in out.collect()] == [42]
    assert real_exists(success)  # never rmtree'd


def test_persisted_fit_failed_fit_leaves_no_tmp(spark, tmp_path):
    """A fit_fn that raises must propagate AND leave no uuid temp dir
    (or half-written final dir) behind in the warehouse."""
    sf = _mk_corpus(spark, tmp_path)
    anchor = spark.range(1)
    kind = f"tfail{uuid.uuid4().hex[:6]}"

    with pytest.raises(RuntimeError, match="boom"):
        fitstore.persisted_fit(
            anchor,
            sf,
            kind,
            ("p",),
            lambda: (_ for _ in ()).throw(RuntimeError("boom")),
        )
    leftovers = [
        d
        for d in os.listdir(_warehouse(spark))
        if d.startswith(f"fit_{kind}_")
    ]
    assert leftovers == [], leftovers


def test_persisted_fit_algo_version_bump_refits(spark, tmp_path, monkeypatch):
    """Bumping FIT_ALGO_VERSION must re-run fit_fn under a NEW tag and
    leave the old artifact untouched (no in-place mutation a reader of
    the old tag could observe)."""
    sf = _mk_corpus(spark, tmp_path)
    anchor = spark.range(1)
    calls = {"n": 0}
    kind = f"tver{uuid.uuid4().hex[:6]}"

    def fit():
        calls["n"] += 1
        return spark.createDataFrame([(calls["n"],)], "fitted int")

    out1 = fitstore.persisted_fit(anchor, sf, kind, ("p",), fit)
    assert calls["n"] == 1 and out1.collect()[0].fitted == 1
    # same version: served from the warehouse, no re-fit
    out2 = fitstore.persisted_fit(anchor, sf, kind, ("p",), fit)
    assert calls["n"] == 1 and out2.collect()[0].fitted == 1
    old_dirs = {
        d
        for d in os.listdir(_warehouse(spark))
        if d.startswith(f"fit_{kind}_")
    }
    assert len(old_dirs) == 1

    monkeypatch.setattr(fitstore, "FIT_ALGO_VERSION", 999_998)
    out3 = fitstore.persisted_fit(anchor, sf, kind, ("p",), fit)
    assert calls["n"] == 2 and out3.collect()[0].fitted == 2
    new_dirs = {
        d
        for d in os.listdir(_warehouse(spark))
        if d.startswith(f"fit_{kind}_")
    }
    assert old_dirs < new_dirs and len(new_dirs) == 2
    # the old artifact still serves its original value
    old_loc = os.path.join(_warehouse(spark), next(iter(old_dirs)))
    assert spark.read.parquet(old_loc).collect()[0].fitted == 1


# -- content_stamp errno contract ---------------------------------------------


def test_content_stamp_missing_raises_file_not_found(tmp_path):
    with pytest.raises(FileNotFoundError, match="cannot stat corpus"):
        content_stamp(str(tmp_path / "nope.parquet"))


def test_content_stamp_preserves_non_enoent_errno(tmp_path, monkeypatch):
    """ADVICE r7: EACCES (or any non-ENOENT OSError) must keep its
    real class, not be relabeled 'file not found'."""
    p = tmp_path / "corpus.parquet"
    p.write_bytes(b"x")

    real_stat = os.stat

    def denied(path, *a, **kw):
        if str(path) == str(p):
            raise PermissionError(errno.EACCES, "denied", str(path))
        return real_stat(path, *a, **kw)

    monkeypatch.setattr(os, "stat", denied)
    with pytest.raises(PermissionError):
        content_stamp(str(p))


def test_content_stamp_sees_inplace_part_rewrite(tmp_path):
    """The stamp must change when a PART FILE is rewritten in place
    under the same name. The directory inode's mtime does not move for
    that, so a dir-level stat would let fitstore and
    queries_pipeline._dir_stamp serve what they built from the old
    bytes."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    pq_dir = tmp_path / "lineitem.parquet"
    pq_dir.mkdir()
    part = pq_dir / "part-00000.parquet"
    papq.write_table(pa.table({"l_orderkey": list(range(60))}), part)
    os.utime(pq_dir, ns=(1_000_000_000, 1_000_000_000))
    before = content_stamp(str(pq_dir))

    # rewrite the part's CONTENTS in place: same file name, same
    # directory entry set, so the directory inode's mtime is untouched
    papq.write_table(pa.table({"l_orderkey": list(range(25))}), part)
    assert os.stat(pq_dir).st_mtime_ns == 1_000_000_000
    assert content_stamp(str(pq_dir)) != before


# -- zero-token fertility group -----------------------------------------------


def test_tokenizer_fertility_all_empty_group_null_ratios(spark, tmp_path):
    """An all-empty (lang, source) group must yield NULL ratios on the
    Spark side AND on the DuckDB oracle (the NULLIF twin), not 0/0 ->
    NaN/error divergence."""
    import duckdb

    from flink_ad_analytics_spark.queries_pipeline import (
        TOKENIZER_FERTILITY_SQL,
        q_tokenizer_fertility,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [
            ("en", "web", "hello world"),
            ("en", "web", "three token doc"),
            ("xx", "blank", ""),
            ("xx", "blank", "   "),
        ],
        "lang string, source string, text string",
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r.lang, r.source): r
        for r in q_tokenizer_fertility(spark, sf).collect()
    }
    blank = got[("xx", "blank")]
    assert blank.n_tokens == 0
    assert blank.bytes_per_token is None
    assert blank.chars_per_token is None
    en = got[("en", "web")]
    assert en.n_tokens == 5 and en.bytes_per_token is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    odf = con.execute(TOKENIZER_FERTILITY_SQL).fetchdf()
    orow = odf[(odf.lang == "xx") & (odf.source == "blank")].iloc[0]
    import math

    assert orow.n_tokens == 0
    assert math.isnan(orow.bytes_per_token)  # pandas NULL -> NaN
    assert math.isnan(orow.chars_per_token)
