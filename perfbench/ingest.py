"""The ``ingest`` workload: the connector's nightly job.

One night is three ops, in this order:

* ``connector``: ``app.main(["--all", ...])`` over the fixed source
  tables into a persistent warehouse (full-refresh dimensions, one
  more day of meetings, anti-join deltas, account write-back);
* ``fetch_append``: a seeded ``sources.paginated.fetch_paginated``
  pull from ``MockPagedClient``, appended to a landing table with
  ``io.write_append``;
* ``stream_merge``: one ``availableNow`` streaming pass that merges
  the new landing files into a table keyed on ``item_id`` with
  ``streaming.windows.write_stream_merge_upsert``.

The warehouse starts empty in every run; the untimed warm pass is the
bootstrap night. Outputs are checked against sink invariants rather
than oracle SQL: row counts match the source, no key repeats after
the upsert, and the meetings watermark advances exactly one day per
night.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd

#: Each night fetches KEYS_PER_NIGHT of KEY_SPACE keys, 1-3 pages of
#: PAGE_SIZE rows each: about 2M landed rows a night.
KEY_SPACE = 8_000
KEYS_PER_NIGHT = 4_000
PAGE_SIZE = 50
MAX_PAGES = 3
LANDING_SCHEMA = "item_id long, value double, key string, seq long"
SINKS = (
    "users", "groups", "group_members", "meetings", "participants",
    "meeting_settings", "landing", "items",
)


class SourceFacts:
    """What the sinks must hold, derived from the source tables with
    pandas (no Spark, so it is not part of any timed op)."""

    def __init__(self, sf_dir: str):
        orders = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"),
                                 columns=["o_orderkey", "o_custkey", "o_orderdate"])
        li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"),
                             columns=["l_orderkey"])
        cust = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"),
                               columns=["c_custkey"])
        orders["day"] = pd.to_datetime(orders.o_orderdate).dt.date
        self.days = sorted(orders["day"].unique())
        self.orders_on = orders.groupby("day").size().to_dict()
        per_order = li.groupby("l_orderkey").size()
        orders["lines"] = orders.o_orderkey.map(per_order).fillna(0).astype(int)
        self.lines_on = orders.groupby("day")["lines"].sum().to_dict()
        self.customers = len(cust)
        self.accounts = int((~cust.c_custkey.isin(orders.o_custkey)).sum())
        self.groups = len(pd.read_parquet(os.path.join(sf_dir, "nation.parquet")))


def rows_for_key(client, key: str) -> int:
    return client.pages_for(key) * client.page_size


class IngestRunner:
    """Runs nights; each night is one pass of three ops."""

    ops = ("connector", "fetch_append", "stream_merge")

    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int):
        from zoom_spark.sources.paginated import MockPagedClient

        self.spark = spark
        self.sf_dir = sf_dir
        self.wh = os.path.join(work_dir, "warehouse")
        self.landing = os.path.join(self.wh, "landing")
        self.items = os.path.join(self.wh, "items")
        self.ckpt = os.path.join(work_dir, "checkpoint")
        self.rng = random.Random(seed)
        self.facts = SourceFacts(sf_dir)
        self.client = MockPagedClient(page_size=PAGE_SIZE, max_pages=MAX_PAGES)
        self.night = 0
        self.keys_seen: set[int] = set()
        self.items_expected = 0
        self.landing_rows = 0
        self.night_rows = 0
        self.last_counts: dict = {}

    # -- the three ops: prepare() is untimed, the returned thunk is timed
    def prepare(self, op: str):
        if op == "connector":
            argv = ["--all", "--source-dir", self.sf_dir, "--sink-dir", self.wh]

            def run():
                from zoom_spark import app

                self.last_counts = app.main(argv, spark=self.spark)
            return run
        if op == "fetch_append":
            return self._prepare_fetch()
        if op == "stream_merge":
            def run():
                from zoom_spark.streaming.windows import write_stream_merge_upsert

                stream = self.spark.readStream.schema(LANDING_SCHEMA).parquet(self.landing)
                write_stream_merge_upsert(stream, self.items, "item_id", "seq", self.ckpt)
            return run
        raise KeyError(op)

    def _prepare_fetch(self):
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        from zoom_spark import io as zio
        from zoom_spark.sources.paginated import RetryPolicy, fetch_paginated

        keys = [str(k) for k in self.rng.sample(range(1, KEY_SPACE + 1), KEYS_PER_NIGHT)]
        self.night_rows = sum(rows_for_key(self.client, k) for k in keys)
        # a key's item ids are key * 1000 + row, so distinct items
        # follow from distinct keys
        for k in keys:
            if int(k) not in self.keys_seen:
                self.keys_seen.add(int(k))
                self.items_expected += rows_for_key(self.client, k)
        self.landing_rows += self.night_rows
        schema = StructType([
            StructField("item_id", LongType()),
            StructField("value", DoubleType()),
            StructField("key", StringType()),
        ])
        keys_df = self.spark.createDataFrame([(k,) for k in keys], "key string")
        night = self.night
        client = self.client

        def run():
            fetched = fetch_paginated(
                keys_df, client.fetch_page, schema,
                retry=RetryPolicy(base_delay=0.0),
            ).withColumn("seq", F.lit(night).cast("long"))
            zio.write_append(fetched, self.landing)
        return run

    # -- checks --------------------------------------------------------
    def check_night(self) -> list[str]:
        """Invariants after a night's three ops; returns the failures."""
        f = self.facts
        errors = []
        day = f.days[0] + dt.timedelta(days=self.night)
        want = {
            "users": f.customers,
            "groups": f.groups,
            "group_members": f.customers,
            "accounts": f.accounts,
            "meetings": f.orders_on.get(day, 0),
            "participants": f.lines_on.get(day, 0),
            "meeting_settings": f.orders_on.get(day, 0),
        }
        for k, v in want.items():
            if self.last_counts.get(k) != v:
                errors.append(f"{k}: loaded {self.last_counts.get(k)}, source has {v}")
        loaded = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(os.path.join(self.wh, "meetings"))
            if d.startswith("order_date=")
        )
        expect_days = [
            (f.days[0] + dt.timedelta(days=i)).isoformat() for i in range(self.night + 1)
        ]
        if loaded != expect_days:
            errors.append(
                f"watermark: meetings hold {loaded[-1:]} after night {self.night},"
                f" expected {expect_days[-1]}"
            )
        self.night += 1
        return errors

    def check_sinks(self) -> list[str]:
        """Row counts and key uniqueness of the landing and keyed sinks."""
        from pyspark.sql import functions as F

        errors = []
        n_landing = self.spark.read.parquet(self.landing).count()
        if n_landing != self.landing_rows:
            errors.append(f"landing: {n_landing} rows, fetched {self.landing_rows}")
        row = self.spark.read.parquet(self.items).agg(
            F.count("*").alias("n"), F.countDistinct("item_id").alias("k")
        ).first()
        if row["n"] != row["k"]:
            errors.append(f"items: {row['n'] - row['k']} duplicate keys after upsert")
        if row["k"] != self.items_expected:
            errors.append(f"items: {row['k']} keys, source has {self.items_expected}")
        return errors

    def sink_rows(self) -> int:
        f = self.facts
        days = f.days[0] + dt.timedelta(days=self.night - 1)
        loaded_days = [d for d in f.orders_on if d <= days]
        meetings = sum(f.orders_on[d] for d in loaded_days)
        return (
            2 * f.customers + f.groups
            + 2 * meetings + sum(f.lines_on[d] for d in loaded_days)
            + self.landing_rows + self.items_expected
        )

    def sink_bytes(self) -> int:
        from tracing import file_bytes

        return sum(file_bytes(os.path.join(self.wh, s))[1] for s in SINKS)
