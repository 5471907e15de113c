"""Analytics exports over parsed case records.

Mirrors /root/reference/src/tools/build_event_csv.py and
print_stats.py as DataFrame programs:

- :func:`events_flat` — case -> one row per event, inheriting case
  demographics (J6 denormalize via posexplode: parent columns ride
  along, NO join/shuffle), with event_id (W1), first_event_date +
  days_elapsed (W2) computed from the in-array order — the reference
  iterates ``other events and hearings`` in stored order
  (build_event_csv.py:70-89)
- :func:`charges_flat` — one row per charge (build_event_csv.py:92-107)
- :func:`top5_by` — top-N cases by a count metric (print_stats.py:32-47)
- :func:`case_stats` — mean/median/mode (print_stats.py:41-47)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def events_flat(records: DataFrame) -> DataFrame:
    first_date = F.to_date(F.element_at(F.col("other_events"), 1)[0], "MM/dd/yyyy")
    e = records.filter(
        F.col("other_events").isNotNull() & (F.size("other_events") > 0)
    ).select(
        F.col("odyssey_id").alias("case_id"),
        F.col("code").alias("case_number"),
        F.col("defendant.appointed_or_retained").alias("attorney"),
        F.col("defendant.sex").alias("gender"),
        F.col("defendant.race").alias("race"),
        F.col("defendant.defense_attorney").alias("defense_attorney"),
        first_date.alias("first_event_date_d"),
        F.posexplode("other_events").alias("pos", "ev"),
    )
    ev_date = F.to_date(F.col("ev")[0], "MM/dd/yyyy")
    return e.select(
        (F.col("pos") + 1).alias("event_id"),
        F.date_format(ev_date, "yyyy-MM-dd").alias("event_date"),
        F.date_format("first_event_date_d", "yyyy-MM-dd").alias("first_event_date"),
        F.datediff(ev_date, F.col("first_event_date_d")).alias("days_elapsed"),
        F.col("ev")[1].alias("event_name"),
        "attorney",
        "case_id",
        "case_number",
        "defense_attorney",
        "race",
        "gender",
    )


def charges_flat(records: DataFrame) -> DataFrame:
    c = records.filter(F.col("charges").isNotNull()).select(
        F.col("odyssey_id").alias("case_id"),
        F.col("code").alias("case_number"),
        F.posexplode("charges").alias("pos", "ch"),
    )
    dt = F.to_date(F.col("ch.date"), "MM/dd/yyyy")
    return c.select(
        (F.col("pos") + 1).alias("charge_id"),
        F.coalesce(F.col("ch.charges"), F.lit("")).alias("charge_name"),
        F.coalesce(F.col("ch.statute"), F.lit("")).alias("statute"),
        F.coalesce(F.col("ch.level"), F.lit("")).alias("level"),
        F.coalesce(F.date_format(dt, "yyyy-MM-dd"), F.lit("")).alias("charge_date"),
        "case_id",
        "case_number",
    )


def top5_by(records: DataFrame, metric: str) -> DataFrame:
    """Top-5 cases by metric: the reference's four top-5 lambdas
    (print_stats.py:49-63) — three nested-array counts plus the F10
    money-parse 'highest cost' metric (total financial assessment,
    0.0 when the case has no financial section)."""
    from ..functions.money import money_or_zero

    col = {
        "dispositions": F.size(F.coalesce("dispositions", F.array())),
        "charges": F.size(F.coalesce("charges", F.array())),
        "events": F.size(F.coalesce("other_events", F.array())),
        "total_assessment": money_or_zero(
            F.col("financial.total_financial_assessment")
        ),
    }[metric]
    return (
        records.select("odyssey_id", col.alias("n"))
        .orderBy(F.desc("n"), F.asc("odyssey_id"))
        .limit(5)
    )


def case_stats(records: DataFrame) -> DataFrame:
    """mean/median/mode of per-case charge counts (print_stats.py:41-47);
    mode deterministic as smallest-most-frequent.

    One global aggregate, i.e. one exchange: ``percentile`` and
    ``mode`` each keep a value -> count histogram per partition, so the
    shuffle moves one small map per task.  (A ``groupBy(n)`` histogram
    aggregated again needs a second exchange, one more Spark job.)  No
    input, no row."""
    return (
        records.select(F.size(F.coalesce("charges", F.array())).alias("n"))
        .agg(
            F.round(F.avg("n"), 4).alias("mean_charges"),
            F.expr("percentile(n, 0.5)").alias("median_charges"),
            F.count(F.lit(1)).alias("n_cases"),
            F.expr("mode(n, true)").alias("mode_charges"),
        )
        .filter(F.col("n_cases") > 0)
    )


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink with header (S14, tools/build_event_csv.py:109-117).
    ``single_file`` coalesces to one part for small human-facing
    exports; leave False at scale (one file per partition)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def export_archive(df: DataFrame, path: str, order_col: str | None = None) -> str:
    """Archival zip export (S15 second half, tools/zip_folder.py:22-34:
    walk a folder of case files -> one zip -> object store).

    Spark-shaped equivalent: write the DataFrame as JSON parts, then
    zip the part files (one archive member per partition file, like
    the reference's one member per case file).  The zip step is
    driver-side and sequential — correct for the bounded human-facing
    exports this tool serves; at scale you archive per-partition with
    ``foreachPartition`` into the object store instead of one zip.
    Returns the archive path.  ``order_col`` makes part contents
    deterministic for tests.
    """
    import os
    import zipfile

    data_dir = path + ".parts"
    out = df.orderBy(order_col) if order_col else df
    out.coalesce(1).write.mode("overwrite").json(data_dir)
    zpath = path if path.endswith(".zip") else path + ".zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(os.listdir(data_dir)):
            if name.startswith("part-"):
                zf.write(os.path.join(data_dir, name), arcname=name)
    return zpath


def export_first_n_json(df: DataFrame, path: str, n: int = 1000) -> None:
    """Bounded JSON bundle export (S15, tools/combine_parsed.py:24-38):
    first n rows in a deterministic order (the reference takes the
    first 1000 directory entries; directory order is not reproducible,
    so the contract here is explicit ordering by the first column)."""
    first = df.orderBy(df.columns[0]).limit(n).coalesce(1)
    first.write.mode("overwrite").json(path)
