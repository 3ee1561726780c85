"""Live progress ticker for CLI runs.

The reference prints a 10 s status line — docs/sec, per-thread queue
depths, ETA (`/root/reference/CPPDeduper/CPPDeduper.cpp:219-261`). The
Spark analogue of "queue depth" is per-stage task progress, which the
driver can poll without instrumenting the job: a daemon thread samples
``sc.statusTracker()`` and prints elapsed wall time plus every active
stage's completed/total tasks to stderr (stdout stays reserved for the
run's JSON summary line). Post-hoc, a checkpointed run keeps per-file row
counters in ``_metrics/<stage>.parquet`` (read from the written parquet
footers) and the over-cap band-bucket count in the ``pairs`` manifest
entry; on a real cluster the Spark UI supersedes this, but spark-submit
batch logs benefit from the heartbeat.
"""

from __future__ import annotations

import sys
import threading
import time

from pyspark.sql import SparkSession


class ProgressTicker:
    def __init__(
        self, spark: SparkSession, interval: float = 10.0, out=None
    ):
        self.spark = spark
        self.interval = interval
        self.out = out or sys.stderr
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = 0.0

    def _line(self) -> str:
        st = self.spark.sparkContext.statusTracker()
        parts = []
        for jid in st.getActiveJobsIds():
            jinfo = st.getJobInfo(jid)
            if jinfo is None:
                continue
            for sid in jinfo.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None or sinfo.numTasks == 0:
                    continue
                done = sinfo.numCompletedTasks
                if done >= sinfo.numTasks:
                    continue
                parts.append(
                    f"stage {sid}: {done}/{sinfo.numTasks} tasks "
                    f"({sinfo.numActiveTasks} active)"
                )
        status = "; ".join(parts) if parts else "idle (driver-side planning)"
        return f"[progress +{time.time() - self._t0:6.1f}s] {status}"

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                print(self._line(), file=self.out, flush=True)
            except Exception:  # a torn-down SparkContext must not kill the run
                return

    def start(self) -> "ProgressTicker":
        self._t0 = time.time()
        self._thread = threading.Thread(
            target=self._run, name="progress-ticker", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)

    def __enter__(self) -> "ProgressTicker":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
