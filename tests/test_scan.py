"""Source helpers: S1 scan options, S6 parameterized SQL, S7 statement
file, A2 watermark, per-partition cursors."""

from __future__ import annotations

from datetime import datetime

from logstash_integration_jdbc_spark.sources.scan import (
    incremental_scan,
    load_testdata,
    max_watermark,
    partition_cursors,
    read_statement_file,
    run_statement,
    scan_table,
)


def test_scan_table_lowercase_and_target(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "x")], "ID int, NameX string").write.parquet(p)
    df = scan_table(spark, p)
    assert df.columns == ["id", "namex"]  # P1 lowercase (jdbc mixin :192-198)
    nested = scan_table(spark, p, target="doc")
    assert nested.columns == ["doc"]  # P2 target nesting
    assert nested.first().doc.id == 1


def test_statement_file_and_parameterized_sql(spark, tmp_path, fixture_dir):
    sql_file = tmp_path / "q.sql"
    sql_file.write_text(
        "SELECT count(*) AS n FROM transcripts WHERE role = :role\n"
    )
    stmt = read_statement_file(str(sql_file))
    spark.read.parquet(f"{fixture_dir}/transcripts.parquet").createOrReplaceTempView("transcripts")
    out = run_statement(spark, stmt, {"role": "user"})
    direct = spark.sql("SELECT count(*) AS n FROM transcripts WHERE role = 'user'")
    assert out.first().n == direct.first().n > 0


def test_incremental_scan_strictness(spark, transcripts):
    mark = transcripts.selectExpr("percentile_approx(ts, 0.5) as c").first().c
    above = incremental_scan(transcripts, "ts", mark).count()
    at_or_above = incremental_scan(transcripts, "ts", mark, inclusive=True).count()
    assert at_or_above >= above
    assert above == transcripts.filter(f"ts > timestamp'{mark}'").count()


def test_max_watermark_and_cursors_consistent(spark, transcripts):
    w = max_watermark(transcripts, "ts")
    cursors = partition_cursors(transcripts, ts_col="ts", n_buckets=8)
    assert len(cursors) <= 8
    assert max(c["max_ts"] for c in cursors.values()) == w
    for c in cursors.values():
        assert isinstance(c["max_ts"], datetime)
        assert c["conv_id"] and c["turn_idx"] >= 0


def test_load_testdata_registers_views(spark, testdata):
    out = load_testdata(spark, testdata("sf0.001"), "region", "nation")
    assert set(out) == {"region", "nation"}
    assert spark.sql("SELECT count(*) n FROM region").first().n == 5


def test_positional_binds(spark, fixture_dir):
    """S6 positional parity: ordered `?` binds + :sql_last_value
    substitution (statement_handler.rb:126-174)."""
    from logstash_integration_jdbc_spark.sources.scan import run_statement

    spark.read.parquet(f"{fixture_dir}/transcripts.parquet").createOrReplaceTempView("tr_pos")
    out = run_statement(
        spark,
        "SELECT conv_id, turn_idx FROM tr_pos WHERE turn_idx < ? AND role = ?",
        [3, "user"],
    )
    rows = out.collect()
    assert rows and all(r.turn_idx < 3 for r in rows)


def test_positional_sql_last_value_substitution(spark, fixture_dir):
    from logstash_integration_jdbc_spark.sources.scan import run_statement

    spark.read.parquet(f"{fixture_dir}/transcripts.parquet").createOrReplaceTempView("tr_pos")
    hi = run_statement(
        spark, "SELECT count(*) AS n FROM tr_pos WHERE ts > ?",
        [":sql_last_value"], sql_last_value="2024-01-01 00:30:00",
    ).first().n
    total = spark.table("tr_pos").count()
    assert 0 < hi < total


def test_positional_bind_count_mismatch_raises(spark):
    """Mirrors jdbc.rb:361-370 / jdbc_spec.rb:1706-1717: `?` marker count
    must equal the bind-values length."""
    import pytest

    from logstash_integration_jdbc_spark.sources.scan import run_statement

    with pytest.raises(ValueError, match="mismatch"):
        run_statement(spark, "SELECT * FROM range(10) WHERE id > ?", [])
    with pytest.raises(ValueError, match="mismatch"):
        run_statement(spark, "SELECT * FROM range(10)", [1])


def test_resolve_statement_exclusivity(tmp_path):
    import pytest

    from logstash_integration_jdbc_spark.sources.scan import resolve_statement

    p = tmp_path / "q.sql"
    p.write_text("SELECT 1\n")
    assert resolve_statement(statement="SELECT 2") == "SELECT 2"
    assert resolve_statement(statement_filepath=str(p)) == "SELECT 1"
    with pytest.raises(ValueError, match="Only one may be set"):
        resolve_statement()
    with pytest.raises(ValueError, match="Only one may be set"):
        resolve_statement(statement="SELECT 2", statement_filepath=str(p))


def test_validate_prepared_statement_mode_messages():
    from logstash_integration_jdbc_spark.sources.scan import (
        validate_prepared_statement_mode,
    )

    assert validate_prepared_statement_mode(
        "SELECT * FROM t WHERE a > ?", ["x"], name="stmt1") == []
    errs = validate_prepared_statement_mode(
        "SELECT * FROM t WHERE a > ? AND b < ?", ["x"],
        name="", paging_enabled=True)
    assert len(errs) == 3
    assert any("name for the Prepared Statement" in e for e in errs)
    assert any("mismatch between the number" in e for e in errs)
    assert any("pagination cannot be used" in e for e in errs)
