"""Contract-key pins that the per-round driver gate alone can't cover:
the committed media fixture round-trip (exact pinned hashes through the
REAL PNG/WAV decode + Arrow mapInPandas tier) and the para_dedup
engine-vs-oracle agreement on the adversarial inputs the sf tables don't
contain (consecutive separators, trailing separators, empty documents —
the exact shapes ADVICE r6 #2 flagged as a latent gate failure)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _load_fixture_module(name):
    import importlib.util as ilu

    spec = ilu.spec_from_file_location(
        name, os.path.join(FIXDIR, f"{name}.py")
    )
    mod = ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _expected_media():
    return _load_fixture_module("media_expected").EXPECTED


class TestMediaFixture:
    def test_spark_round_trip_equals_pinned(self, spark):
        """The committed media.parquet decoded through the distributed
        image_phash / audio_fingerprint path must reproduce the pinned
        (media_id, kind, phash) rows bit-for-bit — any drift in the
        PNG/WAV decoders, the DCT/FFT arithmetic, or the Arrow batch
        plumbing fails here before it fails in the driver gate."""
        from pyspark.sql import functions as F

        from dask_groupby_spark.operators.multimodal import (
            audio_fingerprint,
            image_phash,
        )

        media = spark.read.parquet(os.path.join(FIXDIR, "media.parquet"))
        img = image_phash(
            media.where(F.col("kind") == "image"), id_col="media_id"
        ).select("id", F.lit("image").alias("kind"), "phash")
        aud = audio_fingerprint(
            media.where(F.col("kind") == "audio"), id_col="media_id"
        ).select("id", F.lit("audio").alias("kind"), "phash")
        got = sorted(
            (r["id"], r["kind"], r["phash"])
            for r in img.unionByName(aud).collect()
        )
        assert got == sorted(_expected_media())

    def test_values_oracle_matches_pinned(self):
        """The ORACLE_SQL['media_phash'] VALUES block is generated from
        media_expected.EXPECTED at import time — prove the generated SQL
        actually evaluates back to the pinned rows under DuckDB."""
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from oracle_queries import ORACLE_SQL

        rows = duckdb.sql(ORACLE_SQL["media_phash"]).fetchall()
        assert sorted(rows) == sorted(_expected_media())

    def test_key_registered(self):
        """media_phash must stay registered (VERDICT r6 item 2: the r6
        fixture shipped as dead code).  Its official green row landed in
        r7; the r8+ freshness rotations may move it out of the first-50
        window, so the window-position assert now lives with the current
        window's own test (TestWindowRotation)."""
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import __spark_entry__ as entrymod

        assert "media_phash" in entrymod._QUERIES


def _expected_video():
    return _load_fixture_module("media_video_expected")


class TestVideoFixture:
    def test_spark_round_trip_equals_pinned(self, spark):
        """media_video.parquet through the distributed 1→N frame fan-out +
        per-frame pHash must reproduce the pinned rows exactly — this is
        also the drift guard between sample_video_frames' stub slicing and
        the generator script's mirror of it."""
        from dask_groupby_spark.operators.multimodal import video_phash

        exp = _expected_video()
        media = spark.read.parquet(os.path.join(FIXDIR, "media_video.parquet"))
        got = sorted(
            (r["id"], r["frame_idx"], r["phash"])
            for r in video_phash(
                media, every_nth=exp.EVERY_NTH, max_frames=exp.MAX_FRAMES,
                id_col="media_id",
            ).collect()
        )
        assert got == sorted(exp.EXPECTED)

    def test_values_oracle_matches_pinned(self):
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from oracle_queries import ORACLE_SQL

        rows = duckdb.sql(ORACLE_SQL["media_video"]).fetchall()
        assert sorted(rows) == sorted(_expected_video().EXPECTED)

    def test_shared_keyframes_pair_through_near_dup_join(self, spark):
        """Videos 21 and 23 share their first 3 frame blocks by fixture
        construction: the shared-keyframe inverted-index join must emit
        exactly that pair at min_shared_frames=2 and drop it at 4."""
        from dask_groupby_spark.operators.multimodal import (
            video_near_duplicates,
            video_phash,
        )

        exp = _expected_video()
        media = spark.read.parquet(os.path.join(FIXDIR, "media_video.parquet"))
        hashes = video_phash(
            media, every_nth=exp.EVERY_NTH, max_frames=exp.MAX_FRAMES,
            id_col="media_id",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["n_shared_frames"]
            for r in video_near_duplicates(hashes, min_shared_frames=2).collect()
        }
        assert pairs == {(21, 23): 3}
        assert video_near_duplicates(hashes, min_shared_frames=4).count() == 0


# adversarial doc set: trailing separator (→ empty last segment), double
# separator in both docs (blank-line structure shared corpus-wide), a doc
# that is ONLY separators, an empty doc, and a shared paragraph
_PARA_DOCS = [
    (1, "COOKIE\n\nalpha\n"),
    (2, "COOKIE\n\nbeta\n\n"),
    (3, "\n\n"),
    (4, ""),
    (5, "alpha\nCOOKIE"),
]


class TestParaDedupOracleAgreement:
    def test_engine_matches_oracle_on_consecutive_separators(self, spark):
        """Run dedup_paragraphs AND the r7-fixed oracle keep rule
        (length(seg) < 1 OR global-first) over the same adversarial docs;
        every (doc_id, seg_n_before, seg_n_after, text) must agree.  Under
        the pre-r7 oracle (plain rn=1) doc 2's and doc 3's empty segments
        would be deduped against doc 1's — this is the case that would
        have flipped the key red in the driver window."""
        from dask_groupby_spark.operators import dedup_paragraphs

        df = spark.createDataFrame(_PARA_DOCS, "doc_id bigint, text string")
        got = {
            r["doc_id"]: (r["seg_n_before"], r["seg_n_after"], r["text"])
            for r in dedup_paragraphs(df, count_cols=True).collect()
        }

        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", _PARA_DOCS)
        # the oracle's keep rule verbatim (oracle_queries.py para_dedup),
        # minus the NAVBAR salting — the rule itself is under test
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(
                """
                WITH sp AS (
                  SELECT doc_id, i AS pos, l[i] AS seg
                  FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                        FROM docs),
                       unnest(range(1, len(l)+1)) AS t(i)
                ),
                fl AS (
                  SELECT doc_id, pos, seg,
                         (length(seg) < 1) OR
                         (row_number() OVER (PARTITION BY seg
                                             ORDER BY doc_id, pos) = 1)
                           AS keep
                  FROM sp
                )
                SELECT doc_id, count(*)::BIGINT,
                       count(CASE WHEN keep THEN 1 END)::BIGINT,
                       coalesce(string_agg(CASE WHEN keep THEN seg END,
                                           chr(10) ORDER BY pos), '')
                FROM fl GROUP BY doc_id
                """
            ).fetchall()
        }
        assert got == want
        # spot-check the semantics directly: blank-line structure survives
        # everywhere; shared COOKIE/alpha survive only at their global
        # first occurrence (doc 1)
        assert got[1] == (4, 4, "COOKIE\n\nalpha\n")
        assert got[2] == (5, 4, "\nbeta\n\n")  # COOKIE deduped, empties kept
        assert got[3] == (3, 3, "\n\n")        # separator-only doc intact
        assert got[4] == (1, 1, "")            # empty doc: one empty seg
        assert got[5] == (2, 0, "")            # fully deduped, row survives


class TestWindowRotation:
    def test_r12_window_freshness(self):
        """The pre-written R12 plan, executed: CORRECTNESS_r11 was 50/50
        green (no red keys to front-load), so the r12 first-50 is the
        staged rotation — the r12-new lsh_coverage key first (no official
        row yet; new keys outrank freshness), then all 45 keys whose
        latest driver row is r8 (the stalest block), then the
        alphabetical head of the r9-row block (4 keys; the new key
        displaced calendar_mean to R13) — this test makes the rotation
        un-revertable.  (The r11 window — 3 r10-new keys + 42 r7-era
        keys + the r8 head — earned its official rows in
        CORRECTNESS_r11.json and rotated out.)"""
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import __spark_entry__ as entrymod

        window = list(entrymod._QUERIES)[:50]
        new_keys = ["lsh_coverage"]
        r8_era = {
            "argmax", "argmin", "asof_join", "audio_neardup", "centroids",
            "count", "curate", "decontaminate", "ewma_scan", "fill_stat",
            "fingerprint", "first", "group_topk", "keep_by_dedup",
            "langid", "last", "max", "mean", "mean_ts", "median", "min",
            "mixture", "nanargmax", "nanargmin", "nanfirst", "nanlast",
            "nanmax", "nanmean", "nanmedian", "nanmin", "nanprod",
            "pca_embed", "rank_two_pass", "repetition", "rolling",
            "rollup", "sample_per_group", "scan_two_pass",
            "scan_two_pass_ffill", "split", "sql_entry", "text_stats",
            "tfidf", "top_terms", "wmean",
        }
        r9_head = {"ann_recall", "bins_left", "bins_right", "bpe_tokens"}
        assert window[:1] == new_keys  # new keys outrank freshness
        assert set(window[1:46]) == r8_era  # oldest official rows next
        assert set(window[46:]) == r9_head
        assert len(window) == len(set(window)) == 50


class TestLeakageSafeSplit:
    def test_clusters_never_straddle_split(self, spark):
        """The invariant the operator exists for: every member of a
        connected component lands on the same side, singletons split
        independently."""
        from dask_groupby_spark.operators.curate import leakage_safe_split

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(40)], "doc_id bigint, text string"
        )
        # components: {0,1,2} (chain), {10,11}, rest singletons
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "id_a bigint, id_b bigint"
        )
        out = leakage_safe_split(docs, pairs, 0.5, hasher="portable").collect()
        by_id = {r["doc_id"]: r for r in out}
        assert len(out) == 40
        assert {by_id[i]["split"] for i in (0, 1, 2)} == {by_id[0]["split"]}
        assert {by_id[i]["split"] for i in (10, 11)} == {by_id[10]["split"]}
        assert all(by_id[i]["cluster_id"] is None for i in range(3, 10))
        assert by_id[2]["cluster_id"] == 0 and by_id[11]["cluster_id"] == 10
        # both sides populated at 0.5 over 37 effective keys
        splits = {r["split"] for r in out}
        assert splits == {"train", "test"}

    def test_driver_uf_equals_distributed_labels(self, spark):
        """Every clustering tier returns EXACTLY the distributed min-label
        result — same vertices, same cluster ids — on a graph with chains
        (diameter > 2), multiple components, and reversed-order edges: the
        one-task union-find (a list-built frame has a driver-side row
        bound), edge count + driver union-find (the same edges through an
        explode, which has no bound), and the min-label loop.  The
        unbounded input leaves no persisted RDD behind: its result is
        collected, not pinned."""
        from dask_groupby_spark.operators.dedup import duplicate_clusters
        from dask_groupby_spark.plans import _metadata_row_bound

        edges = [(5, 4), (4, 3), (3, 2), (2, 1), (9, 8), (20, 25), (25, 21)]
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        exploded = pairs.select(
            F.explode(F.array(F.struct("id_a", "id_b"))).alias("e")
        ).select("e.*")
        assert _metadata_row_bound(exploded) is None

        def labels(df, **kw):
            return {
                (r["id"], r["cluster_id"])
                for r in duplicate_clusters(df, **kw).collect()
            }

        dist = labels(pairs, max_driver_edges=None)
        assert labels(pairs) == dist
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        assert labels(exploded) == dist
        assert not set(jsc.getPersistentRDDs().keys()) - before
        assert dist == {
            (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (8, 8), (9, 8),
            (20, 20), (21, 20), (25, 20),
        }


class TestGroupbyInterpolate:
    def test_time_weighted_lerp_and_edges(self, spark):
        from dask_groupby_spark import groupby_interpolate

        df = spark.createDataFrame(
            [("a", 0.0, 10.0), ("a", 1.0, None), ("a", 2.0, None),
             ("a", 4.0, 50.0), ("a", 5.0, None),
             ("b", 0.0, None), ("b", 1.0, 1.0), ("b", 3.0, None),
             ("b", 5.0, 9.0)],
            "g string, x double, v double",
        )
        got = {
            (r["g"], r["x"]): r["v2"]
            for r in groupby_interpolate(
                df, "g", value="v", order_by="x", out="v2"
            ).collect()
        }
        # x-weighted, not row-weighted: gap at x=1,2 on the 10→50 line
        # over x∈[0,4] gives 20 and 30 (row-position lerp would give
        # 23.33 and 36.67)
        assert got[("a", 1.0)] == 20.0 and got[("a", 2.0)] == 30.0
        assert got[("a", 5.0)] is None          # trailing gap
        assert got[("b", 0.0)] is None          # leading gap
        assert got[("b", 3.0)] == 5.0           # midpoint of 1→9 over [1,5]

    def test_limit_ties_nan_and_all_missing(self, spark):
        from dask_groupby_spark import groupby_interpolate

        # explicit tie-break column `i` — order_by=["x"] alone gives no
        # deterministic order for equal-x rows (and the q_interp_time
        # contract key likewise tie-breaks on event_id)
        df = spark.createDataFrame(
            [("a", 0.0, 0, 0.0), ("a", 1.0, 1, None), ("a", 2.0, 2, None),
             ("a", 3.0, 3, 30.0),
             # missing row BETWEEN two valid rows at the SAME x: the
             # equal-x (xn == xp) convention takes the previous value
             ("t", 1.0, 0, 5.0), ("t", 1.0, 1, None), ("t", 1.0, 2, 7.0),
             ("n", 0.0, 0, 1.0), ("n", 1.0, 1, float("nan")),
             ("n", 2.0, 2, 3.0),
             ("m", 0.0, 0, None), ("m", 1.0, 1, None)],
            "g string, x double, i int, v double",
        )
        vals = {
            (r["g"], r["i"]): r["v2"]
            for r in groupby_interpolate(
                df, "g", value="v", order_by=["x", "i"], out="v2", limit=1
            ).collect()
        }
        assert vals[("a", 1)] == 10.0           # within limit
        assert vals[("a", 2)] is None           # 2 rows past last valid
        # equal-x tie (xn == xp): previous valid value, 0/0-free
        assert vals[("t", 1)] == 5.0
        # NaN counts as missing and interpolates
        assert vals[("n", 1)] == 2.0
        # all-missing group stays missing
        assert vals[("m", 0)] is None and vals[("m", 1)] is None

    def test_timestamp_axis_single_exchange(self, spark):
        from dask_groupby_spark import groupby_interpolate
        from dask_groupby_spark.plans import count_exchanges

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", 0.0),
             ("a", "2024-01-01 00:10:00", None),
             ("a", "2024-01-01 00:40:00", 4.0)],
            "g string, ts string, v double",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = groupby_interpolate(df, "g", value="v", order_by="ts", out="v2")
        # all four window frames share one partitioning + sort (checked
        # BEFORE collect: the post-execution AQE plan prints the same
        # exchange again under its query stage)
        assert count_exchanges(out) == 1
        rows = {r["ts"].minute: r["v2"] for r in out.collect()}
        assert rows[10] == 1.0                  # 10/40 of the 0→4 ramp


def test_leak_split_rejects_cluster_id_collision(spark):
    import pytest as _pt

    from dask_groupby_spark.operators.curate import leakage_safe_split

    df = spark.createDataFrame([(1, "t", 9)], "doc_id bigint, text string, cluster_id int")
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with _pt.raises(ValueError, match="cluster_id"):
        leakage_safe_split(df, pairs, 0.5)
