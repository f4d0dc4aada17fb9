"""Correctness oracles. Every check here runs outside the timed region.

* ``state_matches`` compares a lake's final state with the generator's
  sequential oracle (``gen.walgen.compute_oracle`` semantics) by row count
  and an order-insensitive content hash.
* ``LwwState`` replays WAL events sequentially in pandas and answers what a
  point lookup, a change feed and a GROUP BY view must return at the
  current head; the reads workload checks each read against it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


def frame_hashes(frames: list[DataFrame]) -> list[tuple[int, int]]:
    """(row count, order-insensitive content hash) of each frame, the digest
    ``SnapLake.state_hash`` computes, with one Spark job for all of them."""
    tagged = [df.select(F.lit(i).alias("_i"), F.xxhash64(*df.columns).alias("_h"))
              for i, df in enumerate(frames)]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    rows = u.groupBy("_i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_h").cast("decimal(38,0)")).alias("h"),
    ).collect()
    got = {r["_i"]: (int(r["n"]), int(r["h"])) for r in rows}
    return [got.get(i, (0, 0)) for i in range(len(frames))]


def oracle_frame(spark: SparkSession, oracle: pd.DataFrame, schema) -> DataFrame:
    return spark.createDataFrame(oracle[[f.name for f in schema.fields]], schema)


def state_matches(spark: SparkSession, lake, oracle: pd.DataFrame) -> tuple[bool, dict]:
    want, got = frame_hashes([oracle_frame(spark, oracle, lake.schema()), lake.scan(spark)])
    return got == want, {"rows": got[0], "oracle_rows": want[0], "hash_equal": got[1] == want[1]}


class LwwState:
    """Per-url last-writer-wins winner by (warc_ts, seq), applied epoch by
    epoch — the generator's oracle rule, kept incrementally."""

    def __init__(self):
        self.win: pd.DataFrame | None = None

    def apply(self, events: pd.DataFrame) -> None:
        ev = events[["url", "warc_ts", "seq", "op", "text", "lang", "fetch_status"]]
        both = ev if self.win is None else pd.concat([self.win, ev], ignore_index=True)
        both = both.sort_values(["warc_ts", "seq"], kind="mergesort")
        self.win = both.groupby("url", sort=False).tail(1).set_index("url", drop=False)

    def live(self) -> pd.DataFrame:
        return self.win[self.win["op"] != "delete"]

    def lookup(self, urls: list[str]) -> dict[str, tuple]:
        live = self.live()
        hit = live[live.index.isin(urls)]
        return {u: (r.text, pd.Timestamp(r.warc_ts)) for u, r in zip(hit.index, hit.itertuples())}

    def snapshot(self) -> pd.Series:
        """url -> winning seq of live rows (the change feed compares these)."""
        return self.live()["seq"].copy()

    @staticmethod
    def changes(before: pd.Series, after: pd.Series) -> dict[str, int]:
        ins = after.index.difference(before.index)
        dele = before.index.difference(after.index)
        common = after.index.intersection(before.index)
        upd = int((after.loc[common] != before.loc[common]).sum())
        return {"insert": len(ins), "delete": len(dele), "update": upd}

    def group_counts(self) -> dict[str, int]:
        return {str(k): int(v) for k, v in self.live()["lang"].value_counts().items()}
