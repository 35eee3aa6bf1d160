"""ST6/A6 — client heartbeat liveness.

Reference: drones ping every 10 s; a key is online when active and
last seen within 5 minutes (internal/drone/heartbeat/monitor.go:62-117,
internal/database/api_keys.go:276-310). Batch form is a derived
column; streaming form is a max-ts aggregation per key over the
heartbeat stream (watermarked, so state stays bounded).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

ONLINE_WINDOW_SECONDS = 300  # 5 min (api_keys.go:279)


def is_online(last_seen: Column, now: Column | None = None) -> Column:
    now = F.current_timestamp() if now is None else now
    return last_seen.isNotNull() & (
        F.unix_timestamp(now) - F.unix_timestamp(last_seen) <= ONLINE_WINDOW_SECONDS
    )


def online_clients(api_keys: DataFrame, now: Column | None = None) -> DataFrame:
    """A6 batch derivation over the api_keys dim table."""
    return api_keys.withColumn(
        "is_online", F.col("is_active") & is_online(F.col("last_seen_at"), now)
    )
