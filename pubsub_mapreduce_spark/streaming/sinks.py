"""Sinks: the reference's device-config push (K2) re-expressed as a
``foreachBatch`` writer with bounded retry, plus emit-on-change (T8).

K2 (reducer.go:91-133): base64(JSON) pushed to a device config endpoint,
retried up to 10x with 100ms backoff, skippable via a flag. Here the
endpoint is injectable (tests pass a recording callable); the retry
loop, encoding, and skip toggle are faithful.

The payload is built on the driver: the sink collects the batch's
(id, value) rows once (at most keys x windows of them) and encodes
them in Python, so a micro-batch runs one Spark job, not a second
global aggregate just to densify a handful of rows. Re-densification
to the array shape happens here at the wire edge only (SURVEY.md
section 1.4).
"""

from __future__ import annotations

import base64
import json
import time
from typing import Callable

from pyspark.sql import DataFrame

MAX_RETRIES = 10  # reducer.go:24
RETRY_WAIT_S = 0.1  # reducer.go:25


def _encode(rows: list[tuple]) -> str:
    """The K2 wire format (reducer.go:101-111): base64(JSON({mps, total}))
    over (id, value) rows sorted by id, then value. Standard base64 on
    one line, as Go's ``encoding/base64`` writes it; Spark's ``base64`` would
    break payloads over 57 JSON bytes into CRLF-separated lines."""
    mps = [v for _, v in rows]
    body = json.dumps({"mps": mps, "total": sum(mps)}, separators=(",", ":"))
    return base64.b64encode(body.encode()).decode("ascii")


class DeviceConfigSink:
    """foreachBatch writer with K2's bounded-retry push and T8's
    emit-on-change suppression (reducer.go:92-98: skip when total is
    unchanged)."""

    def __init__(
        self,
        push: Callable[[str], None],
        skip: bool = False,  # the -skip-iot flag (reducer.go:71-74)
        max_retries: int = MAX_RETRIES,
        retry_wait_s: float = RETRY_WAIT_S,
        value_col: str = "cnt",  # "total" when fed by running_total_stream
        ledger_dir: str | None = None,
    ):
        self.value_col = value_col
        self.push = push
        self.skip = skip
        self.max_retries = max_retries
        self.retry_wait_s = retry_wait_s
        self._last_payload: str | None = None
        self.ledger_dir = ledger_dir

    def _committed(self, batch_id: int) -> bool:
        import os

        if self.ledger_dir is None:
            return False
        return os.path.exists(os.path.join(self.ledger_dir, f"{batch_id}.done"))

    def _commit(self, batch_id: int) -> None:
        import os

        if self.ledger_dir is None:
            return
        os.makedirs(self.ledger_dir, exist_ok=True)
        with open(os.path.join(self.ledger_dir, f"{batch_id}.done"), "w") as f:
            f.write("1")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """Spark's checkpoint makes the STATE exactly-once, but after a
        crash the last unacknowledged micro-batch is REDELIVERED to
        foreachBatch (same batch_id) — and a restarted sink instance has
        lost its in-memory ``_last_payload``, so without a durable
        guard the side effect duplicates. ``ledger_dir`` persists one
        marker file per pushed batch_id: a replayed batch becomes a
        no-op, upgrading the push to effectively-once. The marker lands
        AFTER the push — a crash in between re-pushes (the unavoidable
        at-least-once window without a transactional endpoint; the
        reference has the same window between publish and ack,
        reducer.go:119-133)."""
        if self.skip:
            return
        if self._committed(batch_id):
            return  # replayed batch after restart: side effect already done
        rows = sorted(batch_df.select("id", self.value_col).collect())
        if not rows:
            return  # empty batch: nothing to push (T8 idle suppression)
        payload = _encode(rows)
        if payload == self._last_payload:
            return  # T8: unchanged -> no push
        last_err: Exception | None = None
        for _ in range(self.max_retries):
            try:
                self.push(payload)
                self._last_payload = payload
                self._commit(batch_id)
                return
            except Exception as e:  # bounded retry, reducer.go:119-126
                last_err = e
                time.sleep(self.retry_wait_s)
        raise RuntimeError(
            f"device config push failed after {self.max_retries} retries"
        ) from last_err
