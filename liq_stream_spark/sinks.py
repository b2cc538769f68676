"""Sinks: the reference's fan-out writer re-expressed as foreachBatch.

Reference behavior (stream.py:47-87): every row goes to a color-coded
console printer, then to CSV (daily-rotated files per exchange_market dir,
writer_csv.py) and/or Postgres (batched INSERTs, writer_pg.py), selected by
``--sink {csv,pg,both}`` / ``--no-write``.

Spark mapping:
- fan-out (K1)        -> one foreachBatch writing the persisted micro-batch
                         to each enabled sink (single source pass per batch)
- console (K2)        -> ANSI-colored take(N) printer (dev ergonomics only)
- CSV daily files (K3)-> partitionBy(exchange, market, date) — a date
                         partition dir IS the daily file, and it gives
                         partition pruning on read
- Postgres (K4/K5)    -> two transports: JDBC append with batchsize (needs
                         a driver jar), or per-partition COPY via psql
                         (write_pg_copy — the bulk fast path, exactly-once
                         through the epoch ledger); DDL bootstrap is a
                         one-shot driver-side statement either way
- parquet             -> the canonical analytic store (not in the
                         reference; replaces its PG table as the query
                         target), partitioned the same way

Delivery upgrade (SURVEY.md §2.7): the reference is at-most-once (drops on
reconnect/queue overflow); checkpointing + deterministic batches give
at-least-once into CSV/parquet and exactly-once into idempotent sinks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from liq_stream_spark import pins

RED = "\x1b[31m"
GREEN = "\x1b[32m"
DIM = "\x1b[2m"
RESET = "\x1b[0m"


def with_date(df: DataFrame) -> DataFrame:
    """UTC date partition column from the exchange timestamp, falling back
    to ingest time (mirrors CSV file naming by "today" in writer_csv.py:18
    while keeping event-time semantics when available)."""
    ts = F.coalesce(F.col("ts_exch_ms"), F.col("ts_ingest_ms"))
    return df.withColumn(
        "date", F.date_format(F.timestamp_millis(ts), "yyyy-MM-dd")
    )


def write_parquet(df: DataFrame, path: str, epoch_id: int | None = None) -> None:
    """Parquet append; with ``epoch_id``, the exactly-once variant: the
    micro-batch lands under an ``epoch_id=N`` partition via dynamic-partition
    OVERWRITE, so a replayed epoch (crash between sink write and checkpoint
    commit) replaces its own partitions instead of appending duplicates.
    The epoch level multiplies small files; ``store.compact_store`` folds it
    back into the canonical (exchange, market, date) layout."""
    out = with_date(df)
    if epoch_id is None:
        (
            out.write.mode("append")
            .partitionBy("exchange", "market", "date")
            .parquet(path)
        )
    else:
        (
            out.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id", "exchange", "market", "date")
            .parquet(path)
        )


def write_csv(df: DataFrame, path: str) -> None:
    (
        with_date(df)
        .write.mode("append")
        .option("header", "true")
        .partitionBy("exchange", "market", "date")
        .csv(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batch_size: int = 500,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC append (K4). ``batchsize`` plays the role of the reference's
    500-row executemany batches (writer_pg.py:79); connection pooling is
    per-executor inside the JDBC writer."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode("append")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  exchange TEXT NOT NULL,
  market TEXT NOT NULL,
  symbol TEXT NOT NULL,
  side TEXT,
  qty DOUBLE PRECISION,
  price DOUBLE PRECISION,
  notional DOUBLE PRECISION,
  ts_exch_ms BIGINT,
  ts_ingest_ms BIGINT,
  raw TEXT
)
"""

# the two reference indexes (writer_pg.py:38-57), guarded idempotently the
# same way (pg_class existence probe inside a DO block, schema-qualified
# names split like writer_pg.py:129-130). In the parquet store the same
# query intent is carried by layout (store.py); a real --sink pg gets the
# actual indexes.
INDEX_DDL = """
DO $$
BEGIN
    IF NOT EXISTS (
        SELECT 1 FROM pg_class c
        JOIN pg_namespace n ON n.oid = c.relnamespace
        WHERE c.relname = '{idx_time}'
          AND n.nspname = CASE WHEN position('.' IN '{table}') > 0
                               THEN split_part('{table}', '.', 1)
                               ELSE 'public' END
    ) THEN
        EXECUTE 'CREATE INDEX {idx_time} ON {table} (ts_exch_ms)';
    END IF;

    IF NOT EXISTS (
        SELECT 1 FROM pg_class c
        JOIN pg_namespace n ON n.oid = c.relnamespace
        WHERE c.relname = '{idx_sym_time}'
          AND n.nspname = CASE WHEN position('.' IN '{table}') > 0
                               THEN split_part('{table}', '.', 1)
                               ELSE 'public' END
    ) THEN
        EXECUTE 'CREATE INDEX {idx_sym_time} ON {table} (exchange, market, symbol, ts_exch_ms)';
    END IF;
END$$;
"""


def bootstrap_statements(table: str) -> list[str]:
    """The DDL statements ``ensure_table`` executes, in order: table then
    the two indexes — (ts_exch_ms) and (exchange, market, symbol,
    ts_exch_ms) — with names derived as in writer_pg.py:129-130.

    Exactly-once note: Spark's JDBC writer gives at-least-once into PG on
    microbatch retry. For exactly-once, add a unique key over the natural
    identity (exchange, market, symbol, ts_exch_ms, raw) plus the epoch id
    and INSERT .. ON CONFLICT DO NOTHING via a foreachBatch writer — the
    reference itself is fire-and-forget (at-most-once, writer_pg.py), so
    plain append already strictly dominates it."""
    _check_pg_table_name(table)
    short = table.split(".")[-1]
    return [
        DDL.format(table=table),
        INDEX_DDL.format(
            table=table,
            idx_time=f"{short}_ts_idx",
            idx_sym_time=f"{short}_sym_ts_idx",
        ),
    ]


# exactly-once JDBC: per-epoch staging table + guarded promotion. The
# staging table is truncated and re-filled on a replayed epoch, and the
# promotion INSERT is keyed by (epoch_id) in the epochs ledger — a replay
# whose epoch is already recorded promotes zero rows. This is the standard
# transactional-outbox shape; it needs no ON CONFLICT key over row content
# (two identical real liquidations stay two rows, matching the reference).
EPOCH_LEDGER_DDL = """
CREATE TABLE IF NOT EXISTS {table}_epochs (
  epoch_id BIGINT PRIMARY KEY,
  promoted_at TIMESTAMPTZ NOT NULL DEFAULT now()
)
"""

PROMOTE_SQL = """
WITH claim AS (
  INSERT INTO {table}_epochs (epoch_id) VALUES ({epoch_id})
  ON CONFLICT (epoch_id) DO NOTHING
  RETURNING epoch_id
)
INSERT INTO {table} ({columns})
SELECT {columns} FROM {staging}
WHERE EXISTS (SELECT 1 FROM claim)
"""


def idempotent_statements(
    table: str, staging: str, epoch_id: int, columns: list[str]
) -> list[str]:
    """The statement sequence ``write_jdbc_idempotent`` executes after
    staging an epoch: ledger DDL (idempotent), then the atomic
    claim+promote — the CTE inserts the epoch into the ledger and the
    promotion only runs when that claim actually inserted, so a replayed
    epoch (crash between promote and checkpoint commit) is a no-op."""
    return [
        EPOCH_LEDGER_DDL.format(table=table),
        PROMOTE_SQL.format(
            table=table,
            staging=staging,
            epoch_id=int(epoch_id),
            columns=", ".join(columns),
        ),
    ]


def write_jdbc_idempotent(
    df: DataFrame,
    epoch_id: int,
    url: str,
    table: str,
    batch_size: int = 500,
    properties: dict[str, str] | None = None,
) -> None:
    """Exactly-once variant of :func:`write_jdbc` for foreachBatch: the
    epoch lands in ``{table}_stage_{epoch_id}`` via the ordinary JDBC
    writer (overwrite — a partial retry refills it), then one driver-side
    transaction claims the epoch in ``{table}_epochs`` and promotes the
    staged rows iff the claim won. The statement semantics (claim once,
    replay promotes zero rows, new epochs append) are verified against a
    REAL PostgreSQL 15 server in tests/test_pg_live.py; only this
    function's Spark JDBC writer leg remains unexercised in-container
    (no PostgreSQL JDBC driver jar)."""
    _check_pg_table_name(table)
    staging = f"{table}_stage_{int(epoch_id)}"
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .option("batchsize", str(batch_size))
        .option("truncate", "true")
        .mode("overwrite")
        .save()
    )
    _execute_statements(
        url,
        idempotent_statements(table, staging, epoch_id, df.columns)
        + [f"DROP TABLE IF EXISTS {staging}"],
        properties,
    )


def _execute_statements(
    url: str, statements: list[str], properties: dict[str, str] | None
) -> None:
    """Driver-side JDBC statement execution in ONE transaction (the same
    JVM-connection technique as ensure_table)."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark._jvm  # type: ignore[union-attr]
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            conn.setAutoCommit(False)
            stmt = conn.createStatement()
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        finally:
            conn.close()
    except Exception as e:
        raise RuntimeError(f"JDBC statement execution failed for {url}: {e}") from e


def ensure_table(url: str, table: str, properties: dict[str, str] | None = None):
    """One-shot DDL bootstrap (K5, writer_pg.py:23-57,124-136): table plus
    the two reference indexes, all idempotent. The statements execute
    green against a real PostgreSQL 15 server — table, both indexes,
    schema-qualified names, re-run no-op (tests/test_pg_live.py); this
    JDBC transport needs the driver jar the container lacks."""
    try:
        import py4j  # noqa: F401 — session JVM required
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark._jvm  # type: ignore[union-attr]
        props = jvm.java.util.Properties()
        for k, v in (properties or {}).items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            stmt = conn.createStatement()
            for sql in bootstrap_statements(table):
                stmt.execute(sql)
        finally:
            conn.close()
    except Exception as e:  # no JDBC driver/database in this container
        raise RuntimeError(f"DDL bootstrap failed for {url}: {e}") from e


# --- PostgreSQL COPY transport (K4's driverless data path) ----------------
#
# The JDBC writer above needs a PostgreSQL JDBC jar on the classpath; this
# transport needs only the `psql` client binary on driver + executors
# (standard in production images, and what the container actually ships).
# It is ALSO the faster bulk path at scale: each executor partition streams
# its rows as one server-side COPY (PostgreSQL's bulk-ingest fast path,
# ~5-10x JDBC executeBatch), so ingest parallelism is Spark's partition
# count and the only driver-side SQL is the set-based claim+promote.

_PG_TYPES = {
    "string": "TEXT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "SMALLINT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMPTZ",
    "timestamp_ntz": "TIMESTAMP",
}


# ADVICE r10 (sinks.py:510): target/staging table names are interpolated
# UNQUOTED into psql scripts and JDBC statements (DDL, advisory-lock and
# DELETE text, the promote CTE) — a name carrying quotes, spaces or mixed
# case would break the script or execute unintended SQL. Validate once at
# every entry point against the unquoted-identifier grammar PostgreSQL
# folds to anyway (optionally schema-qualified).
_PG_IDENT_RE = re.compile(r"^[a-z_][a-z0-9_]*(\.[a-z_][a-z0-9_]*)?$")


def _check_pg_table_name(table: str) -> None:
    if not _PG_IDENT_RE.match(table):
        raise ValueError(
            f"table name {table!r} is not a plain (optionally "
            "schema-qualified) lower-case identifier — sink table names "
            "are interpolated into SQL text and must match "
            "^[a-z_][a-z0-9_]*(\\.[a-z_][a-z0-9_]*)?$"
        )


def _pg_column_ddl(df: DataFrame) -> str:
    """PostgreSQL column DDL for ``df``'s schema (flat types only — the
    sink schema is flat by construction; nested/array/binary raise)."""
    cols = []
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        if s.startswith("decimal"):
            pg = s.upper().replace("DECIMAL", "NUMERIC")
        else:
            pg = _PG_TYPES.get(s)
        if pg is None:
            raise ValueError(
                f"column {f.name!r}: Spark type {s!r} has no COPY-transport "
                "PostgreSQL mapping (flat scalar columns only)"
            )
        cols.append(f"{f.name} {pg}")
    return ", ".join(cols)


def _psql_script(
    conninfo: str, script: str, single_txn: bool = False
) -> str:
    """Run a SQL script through ``psql -f -`` (ON_ERROR_STOP; optionally
    one transaction). ``conninfo`` is a libpq conninfo string, e.g.
    ``host=/run/postgresql user=postgres dbname=liq``."""
    import subprocess

    cmd = ["psql", conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1"]
    if single_txn:
        cmd.append("-1")
    cmd += ["-f", "-"]
    p = subprocess.run(
        cmd, input=script, text=True, capture_output=True, cwd="/tmp"
    )
    if p.returncode != 0:
        raise RuntimeError(
            f"psql script failed (rc={p.returncode}): {p.stderr[-800:]}"
        )
    return p.stdout


def ensure_table_psql(conninfo: str, table: str) -> None:
    """:func:`ensure_table` over the COPY transport: the same bootstrap
    statements (table + both reference indexes, writer_pg.py:23-57),
    executed through psql instead of a JDBC connection."""
    _psql_script(conninfo, ";\n".join(bootstrap_statements(table)))


def write_pg_copy(
    df: DataFrame, epoch_id: int, conninfo: str, table: str
) -> int:
    """Exactly-once PostgreSQL sink over ``COPY FROM STDIN`` — the
    in-container REAL data path for K4 (writer_pg.py:59-88's insert loop,
    upgraded from the reference's at-most-once to exactly-once).

    Shape: the driver (re)creates an UNLOGGED per-epoch staging table
    typed from ``df``'s schema; each partition streams its rows into it
    as one COPY inside a transaction that first takes a PER-PARTITION
    advisory lock (pg_advisory_xact_lock on (staging, partition id) —
    distinct partitions COPY concurrently, attempts of the SAME
    partition serialize) and deletes that partition's prior rows — so a
    retried or speculative task attempt replaces rather than duplicates
    its partition; then one
    driver-side transaction claims ``epoch_id`` in the ``{table}_epochs``
    ledger and promotes the staged rows iff the claim won (identical
    statements to :func:`write_jdbc_idempotent` — a replayed epoch
    promotes zero rows). NULL fidelity is exact: pyarrow CSV with
    ``all_valid`` quoting leaves only NULLs unquoted-empty, so empty
    strings, ``NaN`` doubles and NULLs all round-trip distinctly.

    Scale: per-partition COPY is PostgreSQL's bulk fast path and
    parallelizes with the partition count; executors need only the psql
    binary. Returns the number of rows staged (== promoted on a first
    run, staged-but-skipped on a replay).

    One writer per target table: epoch ids are per-QUERY, so two
    streaming queries sharing a table would claim each other's epochs
    in the ledger (the JDBC exactly-once variant shares this contract;
    give each writer its own table, or union upstream).

    Crash-window guard (ADVICE r10, medium): the staging table is
    UNLOGGED for ingest speed, and PostgreSQL crash recovery TRUNCATES
    unlogged tables — a server crash between the COPY jobs finishing
    and the promote would otherwise claim the epoch over an emptied
    staging table and silently lose the batch. The promote transaction
    therefore verifies count(*) of the staging table against the
    Spark-side staged count FIRST and raises on mismatch — the claim
    never happens, the foreachBatch fails, and the epoch replays.

    psql version note (ADVICE r10): psql BELOW 16 scans COPY input for
    a line consisting solely of ``\\.`` even inside a quoted CSV field,
    so a text value containing an embedded newline followed by ``\\.``
    fails the partition's COPY with a LOUD 'unterminated CSV quoted
    field' error (measured on psql 15; exactly-once is preserved — the
    task fails before any claim). Ingesting such values needs psql >=
    16 on the executors, where the lone ``\\.`` inside quotes is passed
    through as data.
    """
    _check_pg_table_name(table)
    data_cols = list(df.columns)
    staging = f"{table}_stage_{int(epoch_id)}"
    _psql_script(
        conninfo,
        f"DROP TABLE IF EXISTS {staging};\n"
        f"CREATE UNLOGGED TABLE {staging} "
        f"({_pg_column_ddl(df)}, _liq_part INTEGER);",
        single_txn=True,
    )
    copy_cols = ", ".join(data_cols + ["_liq_part"])
    tagged = df.withColumn("_liq_part", F.spark_partition_id())

    def _copy_partition(batches):
        import io
        import subprocess
        import tempfile

        import pyarrow as pa
        import pyarrow.csv as pacsv

        n = 0
        proc = None
        errf = None
        broken = False
        for batch in batches:
            if proc is None:
                part = batch.column("_liq_part")[0].as_py()
                # stderr to a file, not a pipe: a pipe can fill and
                # deadlock the stdin stream on a chatty failure
                errf = tempfile.TemporaryFile()
                proc = subprocess.Popen(
                    ["psql", conninfo, "-X", "-q", "-v", "ON_ERROR_STOP=1",
                     "-f", "-"],
                    stdin=subprocess.PIPE,
                    stdout=subprocess.DEVNULL,
                    stderr=errf,
                    cwd="/tmp",
                )
                try:
                    proc.stdin.write(
                        (
                            "BEGIN;\n"
                            # per-partition, not LOCK TABLE: distinct
                            # partitions must ingest concurrently
                            "SELECT pg_advisory_xact_lock"
                            f"(hashtext('{staging}'), {part});\n"
                            f"DELETE FROM {staging} "
                            f"WHERE _liq_part = {part};\n"
                            f"COPY {staging} ({copy_cols}) FROM stdin "
                            "(FORMAT csv, NULL '');\n"
                        ).encode()
                    )
                except BrokenPipeError:
                    broken = True
                    break  # psql died on startup: raise ITS stderr below
            buf = io.BytesIO()
            pacsv.write_csv(
                pa.Table.from_batches([batch]),
                buf,
                pacsv.WriteOptions(
                    include_header=False, quoting_style="all_valid"
                ),
            )
            try:
                proc.stdin.write(buf.getvalue())
            except BrokenPipeError:
                broken = True
                break  # psql died mid-stream: report ITS stderr below
            n += batch.num_rows
        if proc is not None:
            try:
                proc.stdin.write(b"\\.\nCOMMIT;\n")
                proc.stdin.close()
            except BrokenPipeError:
                broken = True
            rc = proc.wait()
            errf.seek(0)
            err = errf.read().decode(errors="replace")
            errf.close()
            if rc != 0 or broken:
                raise RuntimeError(
                    f"psql COPY into {staging} failed (rc={rc}, "
                    f"pipe_broken={broken}): {err[-800:]}"
                )
        yield pa.RecordBatch.from_pydict(
            {"copied": pa.array([n], pa.int64())}
        )

    staged = (
        tagged.mapInArrow(_copy_partition, "copied long")
        .agg(F.sum("copied").alias("n"))
        .collect()[0]["n"]
    ) or 0
    # the UNLOGGED-staging crash-window guard (see docstring): verify the
    # server-side row count against the Spark-side staged count INSIDE
    # the promote transaction, before the claim — a crash-truncated
    # staging table aborts the promote (epoch unclaimed -> replay)
    # instead of silently promoting zero rows under a claimed epoch
    count_guard = (
        "DO $liq_guard$ DECLARE n BIGINT; BEGIN "
        f"SELECT count(*) INTO n FROM {staging}; "
        f"IF n <> {int(staged)} THEN "
        f"RAISE EXCEPTION 'staging table {staging} holds % rows but the "
        f"Spark job staged {int(staged)} — unlogged staging lost rows "
        "(server crash recovery truncates unlogged tables); aborting the "
        "promote so the epoch replays', n; "
        "END IF; END $liq_guard$"
    )
    _psql_script(
        conninfo,
        ";\n".join(
            [count_guard]
            + idempotent_statements(table, staging, epoch_id, data_cols)
            + [f"DROP TABLE IF EXISTS {staging}"]
        ),
        single_txn=True,
    )
    return int(staged)


def print_console(df: DataFrame, limit: int = 20, color: bool = True) -> None:
    """K2: colored console rendering — long liquidations red, short green,
    notional dimmed (stream.py:58-78). Driver-side take(); dev sink only."""
    for r in df.take(limit):
        side = r["side"] or "?"
        if color:
            c = RED if side == "long" else GREEN if side == "short" else ""
            line = (
                f"{c}[{r['exchange']}/{r['market']}] {r['symbol']} {side} "
                f"qty={r['qty']} @ {r['price']}{RESET} "
                f"{DIM}notional={r['notional']}{RESET}"
            )
        else:
            line = (
                f"[{r['exchange']}/{r['market']}] {r['symbol']} {side} "
                f"qty={r['qty']} @ {r['price']} notional={r['notional']}"
            )
        print(line)


@dataclass
class FanOutConfig:
    """Which sinks a micro-batch goes to (CLI --sink / --no-write)."""

    parquet_path: str | None = None
    # exactly-once parquet: epoch-partitioned dynamic overwrite (see
    # write_parquet). Default off — plain append matches the reference's
    # flat layout and avoids the epoch_id partition level.
    parquet_exactly_once: bool = False
    csv_path: str | None = None
    jdbc_url: str | None = None
    jdbc_table: str = "liquidations"
    jdbc_batch_size: int = 500  # reference default (writer_pg.py:79)
    jdbc_properties: dict[str, str] = field(default_factory=dict)
    # exactly-once JDBC: per-epoch staging + ledger-claimed promotion
    jdbc_exactly_once: bool = False
    # "jdbc" drives the JVM JDBC writer (needs a PostgreSQL driver jar;
    # jdbc_url is a jdbc: URL); "copy" streams per-partition COPY through
    # psql (jdbc_url is a libpq conninfo string) — always exactly-once
    pg_transport: str = "jdbc"
    console: bool = False
    console_color: bool = True


def fan_out(config: FanOutConfig):
    """foreachBatch body (K1): pin once, write to every enabled sink.
    Without the pin, each sink would recompute the batch from source; it
    is released when the micro-batch's writes are done."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        enabled = [
            s
            for s in (config.parquet_path, config.csv_path, config.jdbc_url)
            if s
        ]
        with pins.scope():
            if len(enabled) + int(config.console) > 1:
                pins.pin(batch_df, keep_lineage=True)
            if config.console:
                print_console(batch_df, color=config.console_color)
            if config.parquet_path:
                write_parquet(
                    batch_df,
                    config.parquet_path,
                    epoch_id=epoch_id if config.parquet_exactly_once else None,
                )
            if config.csv_path:
                write_csv(batch_df, config.csv_path)
            if config.jdbc_url:
                if config.pg_transport == "copy":
                    write_pg_copy(
                        batch_df, epoch_id, config.jdbc_url, config.jdbc_table
                    )
                elif config.jdbc_exactly_once:
                    write_jdbc_idempotent(
                        batch_df,
                        epoch_id,
                        config.jdbc_url,
                        config.jdbc_table,
                        batch_size=config.jdbc_batch_size,
                        properties=config.jdbc_properties,
                    )
                else:
                    write_jdbc(
                        batch_df,
                        config.jdbc_url,
                        config.jdbc_table,
                        batch_size=config.jdbc_batch_size,
                        properties=config.jdbc_properties,
                    )

    return _write
