"""Instance heartbeat — the K5 liveness analogue.

The reference pings a scanner-instance record once a minute so the control
plane can tell a live scanner from a dead one (``app/customer_worker.py:
92-100`` schedules ``cron_update_instance_record``, ``app/services/utils/
sync_scheduler.py:19-29`` PATCHes the record). The Spark-first analogue is
a **driver-side background thread** that appends one liveness row per
interval to a ``heartbeat`` table next to the other sinks:

* **out-of-band**: rows are written directly with pyarrow (no Spark job),
  so a saturated or wedged cluster cannot starve its own liveness signal —
  the same property the reference gets from a separate scheduler thread.
  A Spark-job-per-beat would queue behind the very stages whose health it
  is supposed to report.
* **append-only, one file per beat**: each beat is its own tiny parquet
  file (``tables.write_file_atomic``), so a crash at any instant leaves a
  readable table whose max(ts_us) is the instant the driver died —
  exactly the signal a monitor needs (reference semantics: record stops
  updating = instance dead). A clean ``stop()`` appends a final ``alive=false`` row, the
  analogue of an instance deregistering.
* each row carries live progress sampled from ``SparkContext.
  statusTracker()`` (active jobs/stages/tasks), so the heartbeat doubles
  as the reference's "scan status" visibility without touching the data
  path.

``is_live`` is the monitor-side check: newest beat younger than the
timeout and not a clean-shutdown row.
"""

from __future__ import annotations

import os
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from pii_detector_spark.plans.tables import write_file_atomic

HEARTBEAT_SCHEMA = pa.schema(
    [
        ("instance_id", pa.string()),
        ("run_id", pa.string()),
        ("ts_us", pa.int64()),
        ("seq", pa.int64()),
        ("n_active_jobs", pa.int64()),
        ("n_active_stages", pa.int64()),
        ("alive", pa.bool_()),
    ]
)


class Heartbeat:
    """Periodic liveness rows for one pipeline run (context manager)."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str,
        interval_s: float = 60.0,
    ) -> None:
        self._spark = spark
        self._dir = os.path.join(out_dir, "heartbeat")
        self._run_id = run_id
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._seq = 0
        try:
            self._instance = spark.sparkContext.applicationId
        except Exception:  # Spark Connect: no SparkContext on the client
            self._instance = f"app-{uuid.uuid4().hex[:12]}"

    # -- writer side --------------------------------------------------

    def _beat(self, alive: bool) -> None:
        jobs = stages = 0
        try:
            tracker = self._spark.sparkContext.statusTracker()
            jobs = len(tracker.getActiveJobsIds())
            stages = len(tracker.getActiveStageIds())
        except Exception:
            pass  # tracker unavailable (shutdown race) — beat still counts
        row = {
            "instance_id": [self._instance],
            "run_id": [self._run_id],
            "ts_us": [time.time_ns() // 1_000],
            "seq": [self._seq],
            "n_active_jobs": [jobs],
            "n_active_stages": [stages],
            "alive": [alive],
        }
        name = f"hb-{self._instance}-{self._seq:08d}.parquet"
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table(row, schema=HEARTBEAT_SCHEMA), buf)
        write_file_atomic(
            os.path.join(self._dir, name), buf.getvalue().to_pybytes()
        )
        self._seq += 1

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._beat(alive=True)

    def start(self) -> "Heartbeat":
        self._beat(alive=True)  # first beat immediately (liveness from t0)
        self._thread = threading.Thread(
            target=self._loop, name="pii-heartbeat", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=max(5.0, self._interval))
            self._thread = None
        self._beat(alive=False)  # clean deregistration marker

    def __enter__(self) -> "Heartbeat":
        return self.start()

    def __exit__(self, *exc) -> None:
        # on an exception the final row is still written: the monitor sees
        # alive=false with an earlier-than-expected seq, plus the run's
        # missing _commits marker (pipeline crash contract)
        self.stop()


# -- monitor side ------------------------------------------------------


def read_heartbeats(spark: SparkSession, out_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("instance_id", StringType()),
            StructField("run_id", StringType()),
            StructField("ts_us", LongType()),
            StructField("seq", LongType()),
            StructField("n_active_jobs", LongType()),
            StructField("n_active_stages", LongType()),
            StructField("alive", BooleanType()),
        ]
    )
    path = os.path.join(out_dir, "heartbeat")
    return spark.read.schema(schema).parquet(path)


def is_live(
    spark: SparkSession,
    out_dir: str,
    instance_id: str,
    timeout_s: float,
    now_us: int | None = None,
) -> bool:
    """Reference semantics: live iff the newest beat is younger than the
    timeout AND is not a clean-shutdown (alive=false) row."""
    from pyspark.sql import functions as F

    rows = (
        read_heartbeats(spark, out_dir)
        .where(F.col("instance_id") == instance_id)
        .orderBy(F.col("seq").desc())
        .limit(1)
        .collect()
    )
    if not rows:
        return False
    last = rows[0]
    if not last["alive"]:
        return False
    now = time.time_ns() // 1_000 if now_us is None else now_us
    return (now - last["ts_us"]) <= timeout_s * 1_000_000
