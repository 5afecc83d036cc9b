"""Per-statement execution with timeout (SURVEY §2.9 U8; reference
``Schema Mapping/DatabaseUtils/DatabaseManager.py:202-238``: thread +
``connection.interrupt()`` at 30 s, classifying OK/ERROR/TIMEOUT).

Spark shape: run the action under a job group and cancel the group from a
timer thread — the cluster-safe equivalent of a connection interrupt.  The
caller maps TIMEOUT to the reference's sentinel (FN = |gold|, FP = ∞,
``AnalysisUtils/Evaluator.py:141-151``).
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession

OK = "OK"
ERROR = "ERROR"
TIMEOUT = "TIMEOUT"

DEFAULT_TIMEOUT_S = 30.0  # DatabaseManager.py:202 default

# the local properties ``setJobGroup`` writes; restored to the caller's
# values afterwards
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@dataclass
class ExecResult:
    status: str
    value: Any = None
    error: str | None = None


def run_with_timeout(
    spark: SparkSession,
    action: Callable[[], Any],
    timeout_s: float = DEFAULT_TIMEOUT_S,
) -> ExecResult:
    """Run a Spark action, cancelling its job group after ``timeout_s``.

    The cancel is RE-ISSUED every 250 ms until the action returns:
    ``cancelJobGroup`` only cancels jobs active at that instant, so a
    one-shot cancel fired while the driver is still planning (or between
    the jobs of a multi-job action) would let the next job run to
    completion unbounded — exactly the runaway case the timeout exists
    for.

    A cancel bounds the caller, not the tasks: a whole-stage-codegen loop
    never checks its interrupt flag.  ``q_mapping_e2e``'s timed-out overlap
    (a hash aggregate over a ``BroadcastNestedLoopJoin``) keeps one task
    running in ``hashAgg_doConsume`` after TIMEOUT, so later queries in the
    session get one core fewer and ``spark.stop()`` waits out
    ``spark.rpc.askTimeout`` on that task's broadcast."""
    group = f"sdi-timeout-{uuid.uuid4().hex[:12]}"
    sc = spark.sparkContext
    timed_out = threading.Event()
    done = threading.Event()

    def cancel_loop() -> None:
        if done.wait(timeout_s):
            return
        timed_out.set()
        sc.cancelJobGroup(group)  # first cancel AT the deadline, not 250ms after
        while not done.wait(0.25):
            sc.cancelJobGroup(group)

    canceller = threading.Thread(target=cancel_loop, daemon=True)
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    sc.setJobGroup(group, "sdi timed statement", interruptOnCancel=True)
    start = time.monotonic()
    canceller.start()
    try:
        value = action()
        # A statement that completes AFTER the deadline — in the ≤250 ms gap
        # before a re-issued cancel lands, or via driver-only work no cancel
        # can reach — is still a deadline violation.  The reference's
        # DB-level timeout is a hard wall (DatabaseManager.py:202-238: the
        # interrupt timer fires at 30 s regardless of how close the
        # statement is to finishing), so classify late-but-complete as
        # TIMEOUT rather than OK.  Classify on MEASURED elapsed time, not
        # the canceller's event alone: the event can be set while the main
        # thread was merely descheduled past the deadline AFTER an
        # in-deadline finish, which would discard a valid result (ADVICE
        # r9).  elapsed >= timeout_s is the same hard wall the reference's
        # timer enforces, decided by one clock instead of a thread race.
        if time.monotonic() - start >= timeout_s:
            return ExecResult(
                TIMEOUT, error=f"completed after {timeout_s}s deadline"
            )
        return ExecResult(OK, value=value)
    except Exception as e:  # cancelled jobs surface as exceptions
        if timed_out.is_set() or time.monotonic() - start >= timeout_s:
            return ExecResult(TIMEOUT, error=str(e))
        return ExecResult(ERROR, error=str(e))
    finally:
        done.set()
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
