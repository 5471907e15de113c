"""Clean stage: parsed case records -> redacted/enriched records.

Pure DataFrame program mirroring /root/reference/src/cleaner/__init__.py:

- charge processing (cleaner:100-139): one posexplode keeps the
  original ordinal as charge_id (survivors keep their index —
  reference enumerate semantics) and one LEFT broadcast join maps the
  charges to the dimension.  A date-parse failure never maps (the
  reference's ``continue`` at :121 comes before the mapping), and an
  unmapped charge (:124-127) keeps its row with a NULL charge_name —
  so its parsed date still counts toward earliest_charge_date (the
  reference appends the date before attempting the mapping)
- good motions semi-scan over ragged event rows (cleaner:141-155) as a
  pure array expression — no join, no UDF
- judicial-officer / additional_info redaction by struct re-projection
  (cleaner:58-70 via P14)
- xxh64-hex redaction hashes (cleaner:29-32, 157-164) — the only
  Python (Arrow-batched) in the stage

One aggregate regroups the exploded charges by odyssey_id, the one
shuffle of the stage: ``min(charge_dt)`` over every dated charge and
``collect_list`` of the mapped ones (``collect_list`` skips the NULL
an unmapped charge yields), and one join takes the result back to the
per-case projection.  The dimension join is broadcast; AQE turns the
final join into a broadcast of the regrouped side while that side is
small.  At 100 TB the regroup co-partitions with the input if
case_records is bucketed by odyssey_id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import xxh64_hex_udf

GOOD_MOTIONS = [  # cleaner/__init__.py:14-22
    "Motion To Suppress",
    "Motion to Reduce Bond",
    "Motion to Reduce Bond Hearing",
    "Motion for Production",
    "Motion For Speedy Trial",
    "Motion for Discovery",
    "Motion In Limine",
]


def clean_records(
    records: DataFrame, charge_dim: DataFrame, parsing_date: str
) -> DataFrame:
    """case_records -> case_records_clean (schemas.CASE_RECORDS_CLEAN)."""
    # NOTE on pin-shared-subplans: records is deliberately NOT
    # localCheckpoint-pinned although it feeds two consumers (the
    # charge explode and the base projection) — it is a WIDE nested
    # table whose consumers prune different narrow slices
    # (materializing every column measured +15% warm / +50% cold at
    # sf0.1 vs the dual pruned derivation).  The pin discipline pays
    # only for SMALL derived tables with EXPENSIVE upstreams (tf
    # aggregates, shingle indexes) — not here.
    # ---- charges: explode with original ordinal --------------------------
    ch = records.select(
        F.col("odyssey_id"),
        F.posexplode_outer("charges").alias("pos", "ch"),
    ).select(
        "odyssey_id",
        "pos",
        F.col("ch.charges").alias("orignal_charge"),
        F.col("ch.statute").alias("statute"),
        F.col("ch.level").alias("charge_level"),
        # try_to_date: malformed dates -> NULL (the reference's
        # ``continue`` on strptime failure, cleaner:113-121) — ANSI-safe
        F.expr("try_to_date(ch.date, 'MM/dd/yyyy')").alias("charge_dt"),
    )
    # left join: an unmapped charge keeps its row (charge_name NULL),
    # so its date still counts toward earliest_charge_date; an undated
    # charge never maps (cleaner:121, 124-127)
    joined = ch.join(
        F.broadcast(charge_dim),
        (ch.orignal_charge == charge_dim.charge_name) & ch.charge_dt.isNotNull(),
        "left",
    )
    clean_charge = F.struct(
        F.col("pos").alias("charge_id"),
        F.col("charge_level"),
        F.col("orignal_charge"),
        F.col("statute"),
        (F.col("pos") == 0).alias("is_primary_charge"),
        F.date_format("charge_dt", "yyyy-MM-dd").alias("charge_date"),
        F.col("charge_name"),
        F.col("uccs_code"),
        F.col("charge_desc"),
        F.col("offense_category_desc"),
        F.col("offense_type_desc"),
    )
    # NULL for an unmapped charge, which collect_list skips
    mapped = F.when(
        F.col("charge_name").isNotNull(), F.struct("pos", clean_charge.alias("c"))
    )
    charges_by_case = joined.groupBy("odyssey_id").agg(
        F.transform(
            F.sort_array(F.collect_list(mapped)), lambda x: x["c"]
        ).alias("charges"),
        F.date_format(F.min("charge_dt"), "yyyy-MM-dd").alias("earliest_charge_date"),
    )

    # ---- scalar projections / redactions ---------------------------------
    motions = F.array(*[F.lit(m) for m in GOOD_MOTIONS])
    flat_events = F.flatten(F.coalesce("other_events", F.array()))
    good = F.filter(
        motions,
        lambda m: F.exists(
            flat_events, lambda e: F.lower(e).contains(F.lower(m))
        ),
    )
    dispositions = F.transform(
        F.coalesce("dispositions", F.array()),
        lambda d: F.struct(
            d["date"].alias("date"),
            d["event"].alias("event"),
            F.transform(
                d["details"],
                lambda det: F.struct(
                    det["charge"].alias("charge"),
                    det["outcome"].alias("outcome"),
                ),
            ).alias("details"),
        ),
    )
    base = records.select(
        F.col("odyssey_id").alias("case_number"),
        F.lit(parsing_date).alias("parsing_date"),
        "html_hash",
        "county",
        F.col("defendant.appointed_or_retained").alias("appointed_or_retained"),
        # missing defendant info -> "" (reference returns '' on KeyError,
        # cleaner/__init__.py:162-164)
        F.when(F.col("defendant").isNull(), F.lit(""))
        .otherwise(
            xxh64_hex_udf(
                F.concat_ws(
                    ":",
                    F.col("defendant.defense_attorney"),
                    F.col("defendant.defense_attorney_phone_number"),
                )
            )
        )
        .alias("defense_attorney_hash"),
        good.alias("good_motions"),
        (F.size(good) > 0).alias("has_evidence_of_representation"),
        dispositions.alias("dispositions"),
        xxh64_hex_udf(F.col("code")).alias("cause_number_redacted"),
    )
    out = (
        base.join(charges_by_case, base.case_number == charges_by_case.odyssey_id, "left")
        .drop("odyssey_id")
        .withColumn("charges", F.coalesce("charges", F.array()))
        .withColumn("earliest_charge_date", F.coalesce("earliest_charge_date", F.lit("")))
    )
    return out.select(
        "case_number",
        "parsing_date",
        "html_hash",
        "county",
        "appointed_or_retained",
        "defense_attorney_hash",
        "charges",
        "earliest_charge_date",
        "has_evidence_of_representation",
        "dispositions",
        "good_motions",
        "cause_number_redacted",
    )
