"""Top-level connector CLI — the Spark-first analog of the reference's
entry point (/root/reference/main.py:337-360, flags config.py:9-17).

The reference's `main()` wires argparse flags to a hardcoded stage
list (USERS → users/groups/members, ACCOUNTS → student provisioning,
MEETINGS → meetings/participants/settings) over the Zoom REST API and
a SQL warehouse, with email notification on completion
(mailer.py:56-62). Here:

  * the "API" is the driver's parquet star schema under --source-dir
    (role mapping per FIXTURES.md: users→customer, groups→nation,
    meetings→orders, participants→lineitem);
  * the warehouse is a parquet directory per table under --sink-dir,
    written with the engine's idempotent writers (full-refresh
    overwrite for dimension-like tables, watermarked
    one-day-per-run incremental + anti-join delta for facts — the
    reference's exact load disciplines, §2.1 S8/S9 + §4.1);
  * notification is a logging Notifier with the mailer's interface
    (SMTP is out of scope in this environment);
  * stage timing via timing.elapsed (timer.py parity).

Run:  python -m zoom_spark.app --all --source-dir /root/testdata/sf0.001 \
          --sink-dir /tmp/warehouse
"""

from __future__ import annotations

import argparse
import logging
import os
import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark import io as zio
from zoom_spark.operators.conform import conform_schema, enrich_literal
from zoom_spark.operators.incremental import delta_keys, next_watermark
from zoom_spark.sources.writeback import post_rows
from zoom_spark.timing import elapsed

logger = logging.getLogger(__name__)

# Zoom_Users contract analog (reference config.py:28-42): fixed
# column set in order, missing ones null-filled on conformance.
USER_CONTRACT: list[tuple[str, str]] = [
    ("c_custkey", "bigint"),
    ("c_name", "string"),
    ("c_mktsegment", "string"),
    ("c_nationkey", "bigint"),
    ("c_acctbal", "double"),
    ("verified", "boolean"),  # absent in source -> NULL (P1 semantics)
]


class Notifier:
    """mailer.Mailer interface (notify on success/error,
    mailer.py:56-62) with logging transport."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.sent: list[tuple[bool, str]] = []

    def notify(self, success: bool, message: str = "") -> None:
        if not self.enabled:
            return
        self.sent.append((success, message))
        if success:
            logger.info("notify: connector run succeeded. %s", message)
        else:
            logger.error("notify: connector run FAILED. %s", message)


class Connector:
    """Stage methods mirror the reference Connector
    (/root/reference/main.py:33-36, 48-335); each is a DataFrame
    pipeline ending in a warehouse write."""

    def __init__(self, spark: SparkSession, source_dir: str, sink_dir: str):
        self.spark = spark
        self.source_dir = source_dir
        self.sink_dir = sink_dir

    # -- helpers ----------------------------------------------------
    def _src(self, name: str) -> DataFrame:
        return zio.load_table(self.spark, self.source_dir, name)

    def _sink_path(self, table: str) -> str:
        return os.path.join(self.sink_dir, table)

    def _sink(self, table: str) -> DataFrame | None:
        """The sink table, or None before its first load (S10)."""
        path = self._sink_path(table)
        if not zio.sink_exists(self.spark, path):
            return None
        return self.spark.read.parquet(path)

    def _unloaded_meetings(self, meetings: DataFrame, table: str) -> DataFrame:
        """``o_orderkey`` of the meetings not yet in sink ``table``."""
        sink = self._sink(table)
        if sink is None:
            return meetings.select("o_orderkey").distinct()
        return delta_keys(meetings, sink, "o_orderkey", "meeting_key")

    # -- USERS stages (full refresh, S9) -----------------------------
    @elapsed
    def load_users(self) -> int:
        users = conform_schema(self._src("customer"), USER_CONTRACT)
        n = zio.write_overwrite(users, self._sink_path("users"))
        logger.info("loaded %d users", n)
        return n

    @elapsed
    def load_groups(self) -> int:
        groups = self._src("nation").select(
            F.col("n_nationkey").alias("group_id"),
            F.col("n_name").alias("group_name"),
            F.col("n_regionkey").alias("region_id"),
        )
        return zio.write_overwrite(groups, self._sink_path("groups"))

    @elapsed
    def load_group_members(self) -> int:
        # per-group member fetch tagged with its group key (P6,
        # main.py:165): customers tagged by nation
        members = enrich_literal(
            self._src("customer").select(
                F.col("c_custkey").alias("member_id"),
                F.col("c_nationkey").alias("group_id"),
                F.col("c_name").alias("member_name"),
            ),
            load_source="connector",
        )
        return zio.write_overwrite(members, self._sink_path("group_members"))

    # -- MEETINGS stages (incremental, §4.1) -------------------------
    @elapsed
    def load_meetings(self) -> int:
        """One day per run past the sink watermark
        (main.py:204-240): the earliest source day at or after it, so a
        day with no orders is skipped, not retried forever; bootstrap
        (no watermark) loads the earliest day."""
        src = self._src("orders").withColumn(
            "order_date", F.to_date("o_orderdate")
        )
        existing = self._sink("meetings")
        pending = src
        if existing is not None:
            pending = src.join(
                F.broadcast(next_watermark(existing, "order_date"))
            ).where(F.col("order_date") >= F.col("next_load_date"))
        day = pending.agg(F.min("order_date").alias("d"))
        delta = src.join(F.broadcast(day)).where(F.col("order_date") == F.col("d")).drop("d")
        # a caught-up night (P8 guard) writes no partition and loads 0
        n = zio.write_idempotent_partition(
            delta, self._sink_path("meetings"), "order_date"
        )
        logger.info("loaded %d meetings", n)
        return n

    @elapsed
    def load_participants(self) -> int:
        """Anti-join delta (J1, main.py:71-91): lineitems for meetings
        not yet present in the participants sink, appended."""
        meetings = self._sink("meetings")
        if meetings is None:
            return 0
        keys = self._unloaded_meetings(meetings, "participants")
        li = self._src("lineitem")
        delta = li.join(
            keys.withColumnRenamed("o_orderkey", "meeting_key"),
            li.l_orderkey == F.col("meeting_key"),
        ).select(
            "meeting_key",
            F.col("l_suppkey").alias("participant_id"),
            F.col("l_quantity").alias("duration"),
        )
        return zio.write_append(delta, self._sink_path("participants"))

    @elapsed
    def load_meeting_settings(self) -> int:
        """Keyed detail projection for new meeting ids (S4 + P5,
        main.py:269-302): settings fields projected with null
        defaults, anti-join on the settings sink."""
        meetings = self._sink("meetings")
        if meetings is None:
            return 0
        keys = self._unloaded_meetings(meetings, "meeting_settings")
        detail = meetings.join(
            keys.withColumnRenamed("o_orderkey", "mk"),
            meetings.o_orderkey == F.col("mk"),
        ).select(
            F.col("o_orderkey").alias("meeting_key"),
            (F.col("o_orderpriority") == "1-URGENT").alias("enforce_login"),
            F.col("o_orderstatus").isin("O").alias("waiting_room"),
            F.lit(None).cast("boolean").alias("meeting_authentication"),
        )
        return zio.write_append(detail, self._sink_path("meeting_settings"))

    # -- ACCOUNTS stage (write-back, S11) ----------------------------
    @elapsed
    def create_student_accounts(self, post_fn=None) -> int:
        """Provisioning write-back (main.py:178-202): customers with
        no orders become account-creation POSTs with per-row error
        isolation. post_fn defaults to a log line (no network)."""
        new_accounts = delta_keys(
            self._src("customer"), self._src("orders"), "c_custkey", "o_custkey"
        )
        n = new_accounts.count()
        if post_fn is None:
            def post_fn(row):  # noqa: ANN001
                logger.info("would POST create account for %s", row)

        post_rows(new_accounts, post_fn)
        return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="zoom_spark connector")
    # flag parity with reference config.py:9-17
    p.add_argument("--all", action="store_true", help="run every stage")
    p.add_argument("--users", action="store_true")
    p.add_argument("--accounts", action="store_true")
    p.add_argument("--meetings", action="store_true")
    p.add_argument("--debug", action="store_true")
    p.add_argument(
        "--source-dir", default=os.environ.get("SOURCE_DIR", "/root/testdata/sf0.001")
    )
    p.add_argument(
        "--sink-dir", default=os.environ.get("SINK_DIR", "/tmp/zoom_spark_warehouse")
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.debug else logging.INFO,
        format="%(asctime)s %(levelname)s %(name)s: %(message)s",
    )
    if spark is None:
        from zoom_spark.session import get_spark

        spark = get_spark("zoom-spark-connector")
    notifier = Notifier(enabled=True)
    conn = Connector(spark, args.source_dir, args.sink_dir)
    counts: dict[str, int] = {}
    try:
        if args.all or args.users:
            counts["users"] = conn.load_users()
            counts["groups"] = conn.load_groups()
            counts["group_members"] = conn.load_group_members()
        if args.all or args.accounts:
            counts["accounts"] = conn.create_student_accounts()
        if args.all or args.meetings:
            counts["meetings"] = conn.load_meetings()
            counts["participants"] = conn.load_participants()
            counts["meeting_settings"] = conn.load_meeting_settings()
        notifier.notify(True, f"stage counts: {counts}")
    except Exception:  # noqa: BLE001 — top-level catch → notify (main.py:352-360)
        notifier.notify(False, traceback.format_exc())
        raise
    return counts


if __name__ == "__main__":
    main()
