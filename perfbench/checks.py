"""Output checks. Each returns a list of problems; empty means correct.

- ``check_batch_key``: one registry key's Spark output against its
  DuckDB oracle on the same generated tables (``tools/crosscheck``'s
  order-insensitive exact comparison). A rows-only key must return at
  least one row.
- ``reference_counts``: a pure-Python count of the generated stream
  backlog, with the rows the watermark drops left out.
- ``check_stream``: the exactly-once sink's committed output, read back
  through ``IdempotentBatchSink.read_committed``, against the query's
  own batch ids and the reference counts.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from tools.crosscheck import compare_frames

WINDOW_S = 5


def run_oracles(sf_dir: str, sql: dict[str, str | None], tables: tuple[str, ...]) -> dict[str, pd.DataFrame | None]:
    """Each key's DuckDB oracle on the same tables (None: rows-only key)."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def run(q: str | None) -> pd.DataFrame | None:
        return None if q is None else con.cursor().execute(q).df()

    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(zip(sql, pool.map(run, sql.values())))


def check_batch_key(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame | None) -> list[str]:
    if oracle_df is None:
        return [] if len(spark_df) >= 1 else [f"{name}: rows-only key returned no rows"]
    return compare_frames(spark_df, oracle_df, name)


def reference_counts(rows_per_file: list[list[tuple[float, str, bool]]]) -> Counter:
    """(window start in epoch seconds, word) -> count over on-time rows."""
    counts: Counter = Counter()
    for file_rows in rows_per_file:
        for ts, line, late in file_rows:
            if late:
                continue
            start = int(ts // WINDOW_S) * WINDOW_S
            for word in line.split():
                counts[(start, word)] += 1
    return counts


_BATCH_RE = re.compile(r"batch_id=(\d+)/")


def committed_rows(sink, spark) -> pd.DataFrame:
    """Every committed row with the batch id it was committed under."""
    from pyspark.sql import functions as F

    pdf = (
        sink.read_committed(spark)
        .select(
            (F.unix_timestamp("window_start")).alias("window_start"),
            "word",
            "cnt",
            F.input_file_name().alias("_file"),
        )
        .toPandas()
    )
    pdf["batch_id"] = pdf["_file"].map(lambda p: int(_BATCH_RE.search(p).group(1)))
    return pdf.drop(columns="_file")


def check_stream(sink, spark, n_batches: int, expected: Counter) -> tuple[list[str], int]:
    """Return (problems, number of failed batch ids)."""
    problems: list[str] = []
    bad: set[int] = set()
    committed = sink.committed_batches()
    missing = sorted(set(range(n_batches)) - set(committed))
    extra = sorted(set(committed) - set(range(n_batches)))
    if missing:
        problems.append(f"batches never committed: {missing}")
        bad.update(missing)
    if extra:
        problems.append(f"commits for batches the query never ran: {extra}")
        bad.update(extra)
    uncommitted = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(sink.data_dir)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) not in committed
    )
    if uncommitted:
        problems.append(f"torn batch output left without a commit: {uncommitted}")
        bad.update(uncommitted)
    rows = committed_rows(sink, spark)
    dup = rows[rows.duplicated(["batch_id", "window_start", "word"], keep=False)]
    if len(dup):
        ids = sorted(set(dup["batch_id"]))
        problems.append(f"rows committed twice within batches {ids}")
        bad.update(ids)
    # update mode: a key's final count is its row in the latest batch
    latest = rows.sort_values("batch_id").drop_duplicates(["window_start", "word"], keep="last")
    got = {(int(w), word): int(c) for w, word, c in zip(latest.window_start, latest.word, latest.cnt)}
    diff = [k for k in set(got) | set(expected) if got.get(k) != expected.get(k)]
    if diff:
        sample = sorted(diff)[:3]
        problems.append(
            f"{len(diff)} (window, word) counts differ from the reference, e.g. "
            + ", ".join(f"{k}: got {got.get(k)} want {expected.get(k)}" for k in sample)
        )
    return problems, len(bad) + (1 if diff else 0)
