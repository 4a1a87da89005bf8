"""Output checks, recomputed independently with DuckDB over the same
generated parquet the program read. Each check returns a list of
problems; an empty list means the outputs are correct."""

from __future__ import annotations

import glob
import os

import duckdb

# The transcript payload, as RE2: NOTSPACE, WORD and INT captures.
TOOL_CALL_RE = r"tool_call=(\S+) status=(\b\w+\b) dur_ms=([+-]?\d+)"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _hive(path: str) -> str:
    return (f"read_parquet({_files(path)!r}, hive_partitioning = true, "
            "hive_types_autocast = false)")


def batch_oracle(data_dir: str) -> tuple[dict, dict]:
    """(rows per sink, rows per (sink, role, tool, hour)) for one clean
    batch over the base table: the grok parse, both dimension lookups
    with their defaults and failure rules, and first-match routing, in
    SQL."""
    src = _files(os.path.join(data_dir, "base"))
    tool_dim = _files(os.path.join(data_dir, "tool_dim.parquet"))
    role_dim = _files(os.path.join(data_dir, "role_dim.parquet"))
    sql = f"""
    WITH p AS (
      SELECT role, tool, ts,
             NULLIF(regexp_extract(text, '{TOOL_CALL_RE}', 1), '') AS tool_call
      FROM read_parquet({src!r})
    ), e AS (
      SELECT p.*,
             p.tool_call IS NULL AS tool_invalid,
             p.tool_call IS NOT NULL AND td.tool IS NULL AS tool_default,
             p.role IS NULL AS role_invalid,
             p.role IS NOT NULL AND rd.role IS NULL AS role_default
      FROM p
      LEFT JOIN read_parquet({tool_dim!r}) td ON td.tool = p.tool_call
      LEFT JOIN read_parquet({role_dim!r}) rd ON rd.role = p.role
    )
    SELECT CASE WHEN tool_call IS NULL THEN 'parse_miss'
                WHEN tool_default OR role_default THEN 'defaults_used'
                WHEN NOT tool_invalid AND NOT role_invalid THEN 'matched'
                ELSE 'failed' END AS sink,
           role, tool,
           strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:00:00') AS hour,
           count(*) AS n
    FROM e GROUP BY ALL
    """
    con = _con()
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    per_key = {(s, r, t, h): n for s, r, t, h, n in rows}
    per_sink: dict[str, int] = {}
    for (s, *_), n in per_key.items():
        per_sink[s] = per_sink.get(s, 0) + n
    return per_sink, per_key


def batch_outputs(out_dir: str, metrics: dict, oracle: tuple[dict, dict]) -> list[str]:
    """Compare one batch's committed sinks, aggregate and reported
    counts against the oracle."""
    want_sink, want_key = oracle
    problems = []
    got_reported = {k: v for k, v in metrics["sinks"].items() if v}
    if got_reported != want_sink:
        problems.append(f"reported sink counts {got_reported} != {want_sink}")
    con = _con()
    try:
        got_sink = dict(con.execute(
            f"SELECT sink, count(*) FROM {_hive(os.path.join(out_dir, 'sinks'))} GROUP BY sink"
        ).fetchall())
        got_key = {
            (s, r, t, h): n for s, r, t, h, n in con.execute(
                "SELECT sink, role, tool, ts_hour, n_turns FROM "
                f"{_hive(os.path.join(out_dir, 'agg'))}").fetchall()
        }
    finally:
        con.close()
    if got_sink != want_sink:
        problems.append(f"committed sink rows {got_sink} != {want_sink}")
    if got_key != want_key:
        diff = set(got_key.items()) ^ set(want_key.items())
        problems.append(f"aggregate differs from oracle in {len(diff)} (sink, role, tool, hour) cells")
    return problems


def output_files(out_dir: str, run_id: str | None = None,
                 subdirs: tuple[str, ...] = ("sinks", "agg")) -> int:
    """Parquet files committed under ``subdirs`` of ``out_dir`` (only
    those of ``run_id`` when given)."""
    n = 0
    for sub in subdirs:
        for f in _files(os.path.join(out_dir, sub)):
            if run_id is None or f"run_id={run_id}{os.sep}" in f:
                n += 1
    return n


def incremental(table_files: dict[str, int], batches: list[dict], sinks_dir: str) -> tuple[list[str], dict]:
    """Exactly-once and watermark checks for the open-loop run.

    ``table_files`` maps every table file to the sequence number of the
    first batch that listed it; each batch dict carries ``seq``,
    ``run_id`` and ``w_us``, the watermark (epoch µs) in force when it
    started. Expected: batch b commits exactly the rows of the files it
    listed whose ``ts`` lies above its watermark, and every committed
    (conv_id, turn_idx) appears once. Returns (problems, rows committed
    per run_id).
    """
    con = _con()
    try:
        con.execute("CREATE TABLE files (path VARCHAR, first_seq INTEGER)")
        con.executemany("INSERT INTO files VALUES (?, ?)", list(table_files.items()))
        con.execute("CREATE TABLE batches (seq INTEGER, run_id VARCHAR, w_us BIGINT)")
        con.executemany("INSERT INTO batches VALUES (?, ?, ?)",
                        [(b["seq"], b["run_id"], b["w_us"]) for b in batches])
        con.execute(f"""
        CREATE TABLE expected AS
        SELECT s.conv_id, s.turn_idx, b.run_id
        FROM read_parquet({sorted(table_files)!r}, filename = true) s
        JOIN files f ON f.path = s.filename
        JOIN batches b ON f.first_seq <= b.seq AND epoch_us(s.ts) > b.w_us
        """)
        con.execute(f"""
        CREATE TABLE committed AS
        SELECT conv_id, turn_idx, run_id FROM {_hive(sinks_dir)}
        """)
        dups = con.execute("""
            SELECT count(*) FROM (SELECT conv_id, turn_idx FROM committed
                                  GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
        missing = con.execute("""
            SELECT run_id, count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM committed)
            GROUP BY run_id""").fetchall()
        extra = con.execute("""
            SELECT run_id, count(*) FROM (SELECT * FROM committed EXCEPT ALL SELECT * FROM expected)
            GROUP BY run_id""").fetchall()
        per_run = dict(con.execute("SELECT run_id, count(*) FROM committed GROUP BY run_id").fetchall())
    finally:
        con.close()
    problems = []
    if dups:
        problems.append(f"{dups} (conv_id, turn_idx) committed more than once")
    for run_id, n in missing:
        problems.append(f"run {run_id}: {n} expected rows not committed")
    for run_id, n in extra:
        problems.append(f"run {run_id}: {n} committed rows not expected")
    return problems, per_run


def delta_rows_by_run(delta_files: list[str], sinks_dir: str) -> dict[tuple[str, str], int]:
    """(delta file, run_id) → rows of that file committed by that run."""
    if not delta_files:
        return {}
    con = _con()
    try:
        rows = con.execute(f"""
        SELECT d.filename, c.run_id, count(*)
        FROM read_parquet({sorted(delta_files)!r}, filename = true) d
        JOIN (SELECT conv_id, turn_idx, run_id FROM {_hive(sinks_dir)}) c
          USING (conv_id, turn_idx)
        GROUP BY ALL
        """).fetchall()
    finally:
        con.close()
    return {(f, r): n for f, r, n in rows}


def pair_set(path: str) -> set[tuple[int, int]]:
    con = _con()
    try:
        return set(con.execute(
            f"SELECT id_a, id_b FROM read_parquet({_files(path)!r})").fetchall())
    finally:
        con.close()


def near_dup(out_dir: str, expected: set[tuple[int, int]]) -> list[str]:
    """Both operators must report exactly the planted pairs."""
    problems = []
    for op in ("minhash", "substring"):
        got = pair_set(os.path.join(out_dir, op))
        if got != expected:
            problems.append(
                f"{op}: {len(got)} pairs, {len(expected)} planted; "
                f"{len(got - expected)} unexpected, {len(expected - got)} missed")
    return problems
