"""Sinks for the output table bundle (reference app.py:592-615).

The reference collects every table into one Excel workbook / JSON
document — outputs are small aggregates by construction. We keep
those driver-side sinks (with an explicit row cap guarding against
misuse on raw tables) and add the scale path: one parquet directory
per table via distributed ``df.write``.

The three bundle sinks run their per-table queries concurrently from
a driver thread pool of ``min(len(tables), defaultParallelism)``
threads: each table is a separate small Spark job chain, so one table
after another leaves most cores idle. Results are assembled in
``tables`` order, so JSON key order, sheet order and file contents do
not depend on which query finishes first, and the first failing table
in that order is the error raised. The tables ``BhtPipeline`` returns
are cached, so only the first sink of a run evaluates them; the other
two read them from memory.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

DEFAULT_ROW_CAP = 1_000_000


def _capped_pandas(name: str, df: DataFrame, row_cap: int):
    capped = df.limit(row_cap + 1).toPandas()
    if len(capped) > row_cap:
        raise ValueError(
            f"table '{name}' exceeds the driver-side sink row cap "
            f"({row_cap}); use write_parquet_bundle for large tables"
        )
    return capped


def _map_tables(fn, tables: dict[str, DataFrame]) -> list:
    """``[fn(name, df) for name, df in tables.items()]``, run from a
    driver thread pool. Each task is wrapped with
    ``inheritable_thread_target`` at submit time, so its jobs carry the
    caller's local properties and tags (job group, scheduler pool); one
    wrap per task gives each task its own copy of those properties."""
    items = list(tables.items())
    if not items:
        return []
    workers = min(len(items), items[0][1].sparkSession.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(fn), name, df)
            for name, df in items
        ]
        try:
            return [f.result() for f in futures]
        except BaseException:
            for f in futures:
                f.cancel()
            raise


def _sheet_names(tables: dict[str, DataFrame]) -> list[str]:
    """Sheet name per table: truncated to Excel's 31-char limit
    (app.py:596). Two tables whose names truncate to the same sheet
    (Excel compares sheet names case-insensitively) raise before any
    table is evaluated."""
    seen: dict[str, str] = {}
    names = []
    for name in tables:
        sheet = name[:31]
        other = seen.setdefault(sheet.lower(), name)
        if other != name:
            raise ValueError(
                f"tables '{other}' and '{name}' both map to Excel sheet "
                f"name '{sheet}' (cut to 31 chars, compared case-insensitively); "
                "rename one of them"
            )
        names.append(sheet)
    return names


def write_excel_bundle(
    tables: dict[str, DataFrame], path: str, row_cap: int = DEFAULT_ROW_CAP
) -> None:
    """Multi-sheet Excel workbook, sheet names truncated to Excel's
    31-char limit (app.py:596). Driver-side by design; uses pandas'
    excel engine when one is installed, else the stdlib fallback
    (io/minixlsx.py)."""
    sheets = _sheet_names(tables)
    frames = _map_tables(lambda name, df: _capped_pandas(name, df, row_cap), tables)
    try:
        import pandas as pd

        writer = pd.ExcelWriter(path)
    except (ImportError, ValueError):
        from bht_etl_app_spark.io.minixlsx import write_xlsx

        write_xlsx(path, {
            sheet: (
                list(pdf.columns),
                [
                    [None if (isinstance(v, float) and v != v) else v for v in rec]
                    for rec in pdf.itertuples(index=False, name=None)
                ],
            )
            for sheet, pdf in zip(sheets, frames)
        })
        return
    with writer:
        for sheet, pdf in zip(sheets, frames):
            pdf.to_excel(writer, index=False, sheet_name=sheet)


def write_json_bundle(
    tables: dict[str, DataFrame], path: str, row_cap: int = DEFAULT_ROW_CAP
) -> None:
    """Single JSON document ``{name: [records...]}`` (app.py:607-615)."""
    records = _map_tables(
        lambda name, df: _capped_pandas(name, df, row_cap).to_dict(orient="records"),
        tables,
    )
    with open(path, "w") as f:
        json.dump(dict(zip(tables, records)), f, indent=2, default=str)


def write_parquet_bundle(
    tables: dict[str, DataFrame], out_dir: str, mode: str = "overwrite"
) -> None:
    """Scale sink: one parquet directory per table, written
    distributed. The path a 100 TB pipeline actually uses; Excel/JSON
    stay for the small preview tier."""
    _map_tables(
        lambda name, df: df.write.mode(mode).parquet(os.path.join(out_dir, name)),
        tables,
    )


def write_table(
    df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite"
) -> None:
    """Distributed single-table sink, symmetric with
    ``readers.read_table``: dispatch on extension (or explicit
    ``fmt``) across parquet / jsonl / csv / orc. All formats write a
    directory of part files via ``df.write`` — no driver collect, so
    any of them is safe at full corpus scale (jsonl is the common
    training-data interchange; csv gets a header for tool parity)."""
    name = path.lower()
    fmt = fmt or (
        "parquet" if name.endswith(".parquet")
        else "jsonl" if name.endswith((".jsonl", ".ndjson", ".json"))
        else "csv" if name.endswith(".csv")
        else "orc" if name.endswith(".orc")
        else None
    )
    w = df.write.mode(mode)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt in ("jsonl", "json"):
        w.json(path)
    elif fmt == "csv":
        w.option("header", True).csv(path)
    elif fmt == "orc":
        w.orc(path)
    else:
        raise ValueError(f"unsupported sink format for {path!r}")


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    partition_by: str | list[str] | None = "source",
    order_by: str | list[str] | None = "doc_id",
    max_records_per_file: int | None = 100_000,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Training-shard sink: the layout a dataloader actually consumes
    at 100 TB — hive-partitioned directories (one per ``partition_by``
    value, so domain/split selection is partition PRUNING at read
    time, not a filter scan), deterministic within-file order
    (``sortWithinPartitions`` keeps shard contents reproducible run to
    run), and bounded file sizes (``maxRecordsPerFile`` splits hot
    partitions into uniform shards instead of one giant file per
    task). Everything is distributed ``df.write`` — no driver
    collect, no repartition-to-1 antipattern.
    """
    w = df
    if order_by:
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        w = w.sortWithinPartitions(*cols)
    writer = w.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if fmt == "parquet":
        writer.parquet(out_dir)
    elif fmt in ("jsonl", "json"):
        writer.json(out_dir)
    else:
        raise ValueError(f"unsupported shard format {fmt!r}")
