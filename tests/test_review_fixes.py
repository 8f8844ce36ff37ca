"""Regression tests for defects found in code review: NULL semantics in
DELETE, append schema narrowing, MERGE duplicate-source guard, empty
expectations, literal-safe pipeline substitution, CSV field rescue,
zero-norm cosine, and connected-components non-convergence."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.tables.versioned import VersionedTable
from tests.conftest import SF_SMOKE


def _vt(spark, df):
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="dew_fix_") + "/t")
    vt.write(df)
    return vt


def test_delete_keeps_null_condition_rows(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id INT, c STRING"
    )
    vt = _vt(spark, df)
    vt.delete("c = 'x'")
    left = {r.id for r in vt.read().collect()}
    # row 3 (c IS NULL -> condition NULL, not TRUE) must survive
    assert left == {2, 3}


def test_append_merges_schema_instead_of_narrowing(spark):
    wide = spark.createDataFrame([(1, "a", 1.0)], "id INT, name STRING, bal DOUBLE")
    vt = _vt(spark, wide)
    narrow = spark.createDataFrame([(2,)], "id INT")
    vt.write(narrow, mode="append")
    out = vt.read()
    assert set(out.columns) == {"id", "name", "bal"}
    row2 = out.filter("id = 2").collect()[0]
    assert row2.name is None and row2.bal is None
    # type conflict raises instead of silently committing
    bad = spark.createDataFrame([("zzz",)], "id STRING")
    with pytest.raises(ValueError, match="schema conflict"):
        vt.write(bad, mode="append")


def test_merge_rejects_duplicate_source_keys(spark):
    df = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    vt = _vt(spark, df)
    dup_src = spark.createDataFrame([(1, "x"), (1, "y")], "id INT, v STRING")
    with pytest.raises(ValueError, match="multiple rows per join key"):
        vt.merge(dup_src, on="t.id = s.id")


def test_apply_expectations_empty_list(spark):
    from dataengineeringworkshop_spark.operators.expectations import (
        apply_expectations,
        expectation_metrics,
    )

    df = spark.createDataFrame([(1,)], "x INT")
    out, metrics = apply_expectations(df, [])
    assert out.count() == 1 and metrics.count() == 0
    assert expectation_metrics(df, []).columns == [
        "constraint_name", "passed_records", "failed_records",
    ]


def test_pipeline_substitute_ignores_literals_and_names_unknown_refs(spark, tmp_path):
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("subst", str(tmp_path / "pl"))
    p.table("base", None, fn=lambda s, _r: s.createDataFrame([(1,)], "x INT"))
    p.table("out", "SELECT x, 'live.base' AS tag FROM live.base")
    res = p.run(spark)
    rows = p.read_dataset(spark, "out").collect()
    assert rows[0].tag == "live.base"  # literal untouched
    assert res["out"] is not None

    p2 = Pipeline("subst2", str(tmp_path / "pl2"))
    p2.table("only", "SELECT * FROM live.missing")
    with pytest.raises(ValueError, match="live.missing"):
        p2.run(spark)


def test_csv_field_rescue(spark, tmp_path):
    from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

    src = tmp_path / "csv_src"
    src.mkdir()
    (src / "a.csv").write_text("id,ts,name\n1,1000,alice\n2,not_a_number,bob\n")
    ing = AutoIngest(
        source_dir=str(src),
        checkpoint_dir=str(tmp_path / "chk"),
        target_dir=str(tmp_path / "tgt"),
        fmt="csv",
        schema_hints="ts long",
    )
    ing.run_once(spark)
    out = ing.read_target(spark)
    ok = out.filter(F.col("id") == 1).collect()[0]
    assert ok.ts == 1000 and ok._rescued_data is None
    bad = out.filter(F.col("id") == 2).collect()[0]
    # the drifted value is RESCUED, not silently nulled
    assert bad.ts is None
    assert bad._rescued_data is not None and "not_a_number" in bad._rescued_data


def test_zero_norm_vector_never_outranks_real_neighbors(spark):
    from dataengineeringworkshop_spark.llmops.similarity import exact_cosine_topk

    rows = [(i, [float((i * 7 + j * 3) % 5 + 1) for j in range(4)]) for i in range(20)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # zero-norm poison vector
    e = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = e.filter(F.col("vec_id") == 0)
    top = exact_cosine_topk(e, q, "vec_id", "embedding", k=5)
    ids = [r.neighbor_id for r in top.orderBy("sim_rank").collect()]
    assert 99 not in ids  # NaN/undefined cosine must not win rank 1


def test_connected_components_raises_on_non_convergence(spark):
    from dataengineeringworkshop_spark.llmops.clusters import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "d1 BIGINT, d2 BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and converges fine with enough rounds
    got = {r.member: r.component for r in connected_components(chain, max_iter=10).collect()}
    assert set(got.values()) == {1}


def test_merge_allows_duplicate_unmatched_source_keys(spark):
    """Delta semantics: duplicate source keys that match NO target row
    insert normally; only duplicates matching a target row raise."""
    df = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    vt = _vt(spark, df)
    src = spark.createDataFrame([(2, "x"), (2, "y")], "id INT, v STRING")
    vt.merge(src, on="t.id = s.id")  # both rows insert (not matched)
    assert vt.read().count() == 3


def test_upstreams_ignore_string_literals(spark, tmp_path):
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("lit_dag", str(tmp_path / "pl"))
    p.table("a", "SELECT x, 'live.b' AS tag FROM live.base")
    p.table("base", None, fn=lambda s, _r: s.createDataFrame([(1,)], "x INT"))
    p.table("b", "SELECT * FROM live.a")
    # no phantom a->b edge from the literal: this must run, not cycle-error
    res = p.run(spark)
    assert set(res) == {"a", "base", "b"}


def test_expectation_metrics_lazy_and_correct(spark):
    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        apply_expectations,
    )

    df = spark.createDataFrame([(1,), (2,), (30,)], "x INT")
    out, metrics = apply_expectations(
        df, [Expectation("small", "x < 10", mode="drop"),
             Expectation("positive", "x > 0", mode="warn")]
    )
    got = {r.constraint_name: (r.passed_records, r.failed_records)
           for r in metrics.collect()}
    assert got == {"small": (2, 1), "positive": (3, 0)}
    assert out.count() == 2


def test_csv_header_detected_with_hint_added_column(spark, tmp_path):
    from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

    src = tmp_path / "csv_src2"
    src.mkdir()
    (src / "a.csv").write_text("id,name\n1,alice\n")
    ing = AutoIngest(
        source_dir=str(src),
        checkpoint_dir=str(tmp_path / "chk2"),
        target_dir=str(tmp_path / "tgt2"),
        fmt="csv",
        schema_hints="extra long",   # not in the file -> header line differs
    )
    ing.run_once(spark)
    out = ing.read_target(spark)
    # exactly one DATA row; the header did not leak through as garbage
    assert out.count() == 1
    row = out.collect()[0]
    assert row.id == 1 and row.name == "alice" and row.extra is None


def test_zero_norm_query_returns_no_rows(spark):
    from dataengineeringworkshop_spark.llmops.similarity import exact_cosine_topk

    rows = [(i, [float(i + j + 1) for j in range(4)]) for i in range(5)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))
    e = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    zq = e.filter(F.col("vec_id") == 99)
    assert exact_cosine_topk(e, zq, "vec_id", "embedding", k=3).count() == 0


def test_byte_histogram_non_power_of_two_dim(spark):
    from dataengineeringworkshop_spark.llmops.multimodal import (
        byte_histogram_features,
        documents_as_media,
    )
    from dataengineeringworkshop_spark.plans.tables import load_table

    media = documents_as_media(load_table(spark, SF_SMOKE, "documents").limit(5))
    out = byte_histogram_features(media, dim=100).collect()
    assert all(len(r.features) == 100 for r in out)
    # ASCII text bytes land across the range; the top bins must not be
    # structurally dead (bucketing is uniform, not a truncating shift)
    assert all(abs(sum(r.features) - 1.0) < 1e-9 for r in out)


def test_corrupt_media_rows_do_not_kill_decode(spark):
    """A recognized-but-corrupt BMP/WAV payload must come back ok=False,
    not abort the whole mapInPandas job."""
    from dataengineeringworkshop_spark.llmops.multimodal import (
        decode_media,
        encode_bmp,
        resize_media,
    )

    rows = [
        (1, "image", bytearray(b"BM" + b"\x00" * 10), "s", 12),      # truncated BMP
        (2, "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk"), "s", 16),  # no fmt/data
        (3, "image", bytearray(encode_bmp(3, 2, b"abcdef")), "s", 0),  # valid
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, media_type string, content binary, source string, declared_bytes long",
    )
    got = {r.media_id: r for r in decode_media(df, fake=False).collect()}
    assert not got[1].ok and not got[2].ok
    assert got[3].ok and (got[3].width, got[3].height) == (3, 2)
    rez = {r.media_id: r for r in resize_media(df, width=2, height=2).collect()}
    assert len(rez[1].content) == 0 and len(rez[3].content) > 0


def test_top_down_bmp_not_flipped(spark):
    """Negative-biHeight BMPs store rows top-down; decode must not flip."""
    import struct

    import numpy as np

    from dataengineeringworkshop_spark.llmops.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    # bottom-up container of these pixels
    bgr_bu = px[::-1][:, :, [2, 1, 0]]
    pad = np.zeros((2, 8), dtype=np.uint8)
    pad[:, :6] = bgr_bu.reshape(2, 6)
    b = encode_bmp(2, 2, pad.tobytes())
    assert np.array_equal(decode_bmp_pixels(b), px)
    # same pixel bytes, but declared top-down (negative height): rows
    # are then already in top-down order
    b_td = bytearray(b)
    struct.pack_into("<i", b_td, 22, -2)
    got = decode_bmp_pixels(bytes(b_td))
    assert np.array_equal(got, px[::-1])


def test_wav_guards(spark):
    """Truncated fmt chunk -> ValueError (documented contract); non-16-bit
    PCM -> named NotImplementedError from feature extraction."""
    import struct

    import pytest as _pytest

    from dataengineeringworkshop_spark.llmops.multimodal import (
        parse_wav,
        wav_sample_features,
    )

    trunc = b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
    with _pytest.raises(ValueError, match="truncated WAV fmt"):
        parse_wav(trunc)

    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
        + b"data" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
    )
    assert parse_wav(wav8)["bits_per_sample"] == 8  # parses fine
    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav8), "s", len(wav8))],
        "media_id long, media_type string, content binary, source string, declared_bytes long",
    )
    with _pytest.raises(Exception, match="8-bit PCM feature"):
        wav_sample_features(df).collect()


def test_live_view_constraints_rejected():
    from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

    import pytest as _pytest

    with _pytest.raises(ValueError, match="views are not materialized"):
        pipeline_from_sql(
            "x", "/tmp/never",
            "CREATE LIVE VIEW v (CONSTRAINT ok EXPECT (a > 0)) AS SELECT 1 AS a",
        )


def test_fail_guard_with_quoted_multiword_name(spark, tmp_path):
    """A backtick-style constraint name with spaces and an apostrophe
    must neither break the guard SQL nor report '<unknown>'."""
    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    import pytest as _pytest

    p = Pipeline("qname", str(tmp_path / "pl"))
    p.table(
        "bad",
        fn=lambda s, _r: s.range(10).withColumnRenamed("id", "v"),
        expectations=[
            Expectation("value isn't too big", "v < 5", mode="fail")
        ],
    )
    with _pytest.raises(ExpectationFailed, match="value isn_t too big"):
        p.run(spark)


# ---------------------------------------------------------------- round 5


def test_quarantine_null_predicate_rows_are_quarantined(spark, tmp_path):
    """A row whose quarantine predicate evaluates NULL (e.g. `v > 0` on
    a null v) must land in the quarantine table — previously it was
    dropped from the main table but untagged by quarantine_split
    (`~NULL` is NULL), i.e. silently lost while metrics claimed it was
    quarantined."""
    from dataengineeringworkshop_spark.operators.expectations import Expectation
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("qnull", str(tmp_path / "pl"))
    p.table(
        "gated",
        fn=lambda s, _r: s.createDataFrame(
            [(1, 10), (2, None), (3, -4), (4, None), (5, 7)],
            "id INT, v INT",
        ),
        expectations=[Expectation("v_pos", "v > 0", mode="quarantine")],
    )
    r = p.run(spark)
    kept = {x.id for x in p.read_dataset(spark, "gated").collect()}
    assert kept == {1, 5}
    q = {x.id: x.violated for x in p.read_quarantine(spark, "gated").collect()}
    # NULL-evaluating rows (2, 4) AND the false row (3) are all routed
    assert q == {2: "v_pos", 3: "v_pos", 4: "v_pos"}
    m = {x["name"]: x for x in r["gated"]["expectations"]}
    # metrics and the side table agree: nothing lost
    assert m["v_pos"]["quarantined_records"] == 3 == len(q)


def test_quarantine_not_clobbered_by_failed_run(spark, tmp_path):
    """The quarantine side table is written AFTER the guarded main
    write: a fail-mode abort must leave the previous run's quarantine
    rows intact instead of overwriting them with the aborted run's."""
    from dataengineeringworkshop_spark.operators.expectations import (
        Expectation,
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    src = {"rows": [(1, 10), (2, -5)]}

    def build(s, _r):
        return s.createDataFrame(src["rows"], "id INT, v INT")

    p = Pipeline("qfail", str(tmp_path / "pl"))
    p.table(
        "gated",
        fn=build,
        expectations=[
            Expectation("v_pos", "v > 0", mode="quarantine"),
            Expectation("id_ok", "id < 50", mode="fail"),
        ],
    )
    p.run(spark)
    assert {x.id for x in p.read_quarantine(spark, "gated").collect()} == {2}
    # second run violates the fail-mode expectation -> node aborts
    src["rows"] = [(99, 10), (101, -5)]
    with pytest.raises(ExpectationFailed):
        p.run(spark)
    # quarantine still shows run 1's rows, not the aborted run's
    assert {x.id for x in p.read_quarantine(spark, "gated").collect()} == {2}


def test_streaming_quarantine_batch_keyed(spark, tmp_path):
    """Incremental-table quarantine rows are keyed by batch_id (hive
    subdirs written with overwrite) so checkpoint replays cannot
    double-append; two incremental runs accumulate without dupes."""
    import json as _json

    from dataengineeringworkshop_spark.operators.expectations import Expectation
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        for i in range(10):
            f.write(_json.dumps({"k": i, "v": i}) + "\n")

    p = Pipeline("stq", str(tmp_path / "pl"))
    p.table(
        "incr",
        f"SELECT * FROM cloud_files('{landing}', 'json')",
        incremental=True,
        expectations=[Expectation("v_small", "v < 7", mode="quarantine")],
    )
    p.run(spark)
    assert p.read_dataset(spark, "incr").count() == 7
    q1 = p.read_quarantine(spark, "incr")
    assert "batch_id" in q1.columns  # partition column from the keying
    assert sorted(x.v for x in q1.collect()) == [7, 8, 9]
    # second file -> second batch appends under a NEW batch_id dir
    with open(landing / "b.json", "w") as f:
        for i in range(10, 14):
            f.write(_json.dumps({"k": i, "v": i}) + "\n")
    p.run(spark)
    q2 = p.read_quarantine(spark, "incr")
    assert sorted(x.v for x in q2.collect()) == [7, 8, 9, 10, 11, 12, 13]
    assert q2.select("batch_id").distinct().count() == 2


def test_split_statements_preserves_literal_dashes():
    """'--' inside a string literal is data, not a comment: the
    statement keeps its literal intact and the following statement is
    not absorbed (previously a regex pre-pass mangled both)."""
    from dataengineeringworkshop_spark.sqldml import split_statements

    script = (
        "UPDATE t SET s = 'a--b';\n"
        "DELETE FROM t WHERE x = 1; -- real comment\n"
        'SELECT "c--d" AS lit FROM t;\n'
    )
    stmts = split_statements(script)
    assert stmts == [
        "UPDATE t SET s = 'a--b'",
        "DELETE FROM t WHERE x = 1",
        'SELECT "c--d" AS lit FROM t',
    ]


def test_strip_line_comments_quote_aware():
    from dataengineeringworkshop_spark.sqlcompat import strip_line_comments

    assert strip_line_comments("SELECT 1 -- x\n , 2") == "SELECT 1 \n , 2"
    assert strip_line_comments("SELECT 'a--b' -- c") == "SELECT 'a--b' "
    assert strip_line_comments('SELECT "x--y", `a--b`') == 'SELECT "x--y", `a--b`'


def test_fail_guard_translation_requires_sentinel(spark, tmp_path):
    """An unrelated failure whose message merely echoes 'ON VIOLATION
    FAIL UPDATE' (e.g. a user raise_error in a node query) must NOT be
    rewrapped as ExpectationFailed — only the guard's unique sentinel
    token triggers translation."""
    from dataengineeringworkshop_spark.operators.expectations import (
        ExpectationFailed,
    )
    from dataengineeringworkshop_spark.pipeline.runner import Pipeline

    p = Pipeline("notexp", str(tmp_path / "pl"))
    p.table(
        "boom",
        fn=lambda s, _r: s.range(3).selectExpr(
            "CASE WHEN id >= 0 THEN "
            "raise_error('user says: ON VIOLATION FAIL UPDATE lol') "
            "ELSE 'x' END AS c"
        ),
    )
    with pytest.raises(Exception) as ei:
        p.run(spark)
    assert not isinstance(ei.value, ExpectationFailed)
    assert "user says" in str(ei.value)


# ------------------------------------------------- round-5 self-review


def test_strip_line_comments_backslash_escaped_quote():
    """Spark's default string syntax escapes quotes with backslash:
    'don\\'t -- keep' is ONE literal; the stripper must not close the
    quote at the escaped apostrophe and eat the rest of the line."""
    from dataengineeringworkshop_spark.sqlcompat import strip_line_comments

    s = r"SELECT 'don\'t -- keep' AS a, 2"
    assert strip_line_comments(s) == s
    # and a real trailing comment after the literal still goes
    assert strip_line_comments(s + " -- gone") == s + " "


def test_split_statements_backslash_escaped_quote():
    from dataengineeringworkshop_spark.sqldml import split_statements

    stmts = split_statements(r"SELECT 'don\'t x'; SELECT 2;")
    assert stmts == [r"SELECT 'don\'t x'", "SELECT 2"]


def test_dlt_multiline_comment_literal_survives(tmp_path):
    """A '--'-prefixed line INSIDE a multi-line COMMENT literal is data;
    only genuine MAGIC/comment lines outside literals are stripped."""
    from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

    script = (
        '-- MAGIC # markdown title\n'
        'CREATE LIVE TABLE t\n'
        'COMMENT "first\n-- second"\n'
        "AS SELECT 1 AS a -- trailing\n"
    )
    p = pipeline_from_sql("mlc", str(tmp_path / "pl"), script)
    assert p.datasets["t"].comment == "first\n-- second"


def test_bpe_oracle_survives_early_merge_exhaustion(spark):
    """When the vocabulary fully merges before n_merges rounds, the
    unrolled oracle's later seq CTEs must pass the vocabulary through
    (LEFT JOIN), not annihilate it — and the Spark learn loop stops at
    the same point, so both merge table and vocab stats agree."""
    import duckdb

    from dataengineeringworkshop_spark.llmops.bpe import (
        bpe_oracle_sql,
        bpe_vocab_stats_oracle_sql,
        learn_bpe_merges,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 'aa aa ab' AS text")
    merges = con.execute(bpe_oracle_sql(n_merges=8)).fetchall()
    stats = con.execute(bpe_vocab_stats_oracle_sql(n_merges=8)).fetchall()
    # two distinct words, each fully merged after 2 rounds
    assert len(merges) == 2
    assert stats, "vocab stats must not be annihilated by empty rounds"
    assert sum(r[1] for r in stats) == 2  # both words still present
    docs = spark.createDataFrame([("aa aa ab",)], "text STRING")
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in learn_bpe_merges(docs, "text", n_merges=8).collect()
    ]
    assert got == [tuple(m) for m in merges]


def test_bucketed_slug_no_suffix_collision():
    from dataengineeringworkshop_spark.plans.scaleq import _slug

    a = _slug("/tmp/pytest-1/data/sf0_001")
    b = _slug("/tmp/pytest-2/data/sf0_001")
    assert a != b


def test_take_paren_group_backslash_escaped_quote():
    """All three sqlcompat scanners share one escape rule: a constraint
    predicate containing a Spark-escaped quote must not close the
    literal early and truncate the paren group."""
    from dataengineeringworkshop_spark.sqlcompat import take_paren_group

    inside, after = take_paren_group(r"(flag != 'don\')t') AS x")
    assert inside == r"flag != 'don\')t'"
    assert after == " AS x"


def test_dlt_magic_line_inside_literal_survives(tmp_path):
    """A '-- MAGIC'-prefixed line inside a multi-line COMMENT literal is
    data; genuine MAGIC markdown lines outside literals still vanish."""
    from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

    script = (
        "-- MAGIC # real markdown, stripped\n"
        'CREATE LIVE TABLE t\nCOMMENT "notes:\n-- MAGIC demo"\n'
        "AS SELECT 1 AS a\n"
    )
    p = pipeline_from_sql("mgl", str(tmp_path / "pl"), script)
    assert p.datasets["t"].comment == "notes:\n-- MAGIC demo"


def test_embed_quantize_drops_null_and_empty_vectors(spark, tmp_path):
    """sim_embed_quantize's pure-map form must match the oracle's
    relational (unnest) form on NULL/empty embeddings: unnest emits no
    row for them, so the Spark plan filters them out rather than
    emitting an (n_dims=0, NULL min/max) row (ADVICE r9)."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from dataengineeringworkshop_spark.plans.searchq import sim_embed_quantize

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    rows = [
        (1, [0.0, 1.0, 2.0, 3.0], 0),
        (2, None, 0),
        (3, [], 0),
    ]
    sf_dir = str(tmp_path / "sf_tiny")
    spark.createDataFrame(rows, schema).write.parquet(f"{sf_dir}/embeddings.parquet")

    out = sim_embed_quantize(spark, sf_dir).collect()
    assert [r.vec_id for r in out] == [1]
    assert out[0].n_dims == 4 and out[0].q_min == 0 and out[0].q_max == 255
    assert out[0].sse == 0.0  # 4 points quantize exactly onto 0..255


def test_rake_combined_oracle_asserts_surgery_landed():
    """The RAKE combined oracle is assembled by exact-substring surgery
    on shared template bodies; the assembly must both succeed today and
    fail LOUDLY (assert) if the templates drift (ADVICE r9)."""
    from dataengineeringworkshop_spark.plans import textops

    good = textops._rake_combined_oracle(
        tok_cte="SELECT doc_id, 1 AS pos, 'w' AS wd FROM documents",
        phrase_agg="string_agg(wd, ' ' ORDER BY pos)",
    )
    assert "pw AS (" in good and ", plen AS (" in good

    original = textops._RAKE_PW_BODY
    try:
        textops._RAKE_PW_BODY = original.replace("FROM seg", "FROM  seg")
        with pytest.raises(AssertionError, match="drifted"):
            textops._rake_combined_oracle(
                tok_cte="SELECT doc_id, 1 AS pos, 'w' AS wd FROM documents",
                phrase_agg="string_agg(wd, ' ' ORDER BY pos)",
            )
    finally:
        textops._RAKE_PW_BODY = original


def test_session_defaults_gate_reset(spark):
    """The first ensure_session_defaults pass is authoritative: a conf
    changed afterwards (sweep_oracles.py --aqe-off) keeps its value, and
    deleting ``_dew_defaults_ok`` re-asserts the defaults."""
    from dataengineeringworkshop_spark.session import (
        RUNTIME_DEFAULTS,
        ensure_session_defaults,
    )

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    try:
        ensure_session_defaults(spark)
        spark.conf.set(key, "false")
        ensure_session_defaults(spark)
        assert spark.conf.get(key) == "false"
        del spark._dew_defaults_ok
        ensure_session_defaults(spark)
        assert spark.conf.get(key) == RUNTIME_DEFAULTS[key]
        assert spark._dew_defaults_ok
    finally:
        spark.conf.set(key, before)


def test_smoke_documents_have_no_null_doc_id(spark):
    """The corpus pipeline's min_by dedup (plans/pipelineq.py) assumes a
    non-NULL doc_id."""
    from dataengineeringworkshop_spark.plans.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    assert docs.where("doc_id IS NULL").count() == 0


def test_load_table_self_join_resolves(spark):
    """Two loads of one table (scan-cache hits) join on their own columns
    without ambiguity: every hit carries fresh column attributes."""
    from dataengineeringworkshop_spark.plans.tables import load_table

    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    assert a.join(b, a["n_nationkey"] == b["n_regionkey"]).count() == 25
