"""Environment-compat shims.

``ensure_protobuf()`` unblocks Spark 4's ``transformWithState`` state
protocol in containers that ship no ``google.protobuf`` wheel but DO
carry the pure-Python protobuf runtime inside a Google Cloud SDK tree
(``platform/google_appengine/google/protobuf`` — BSD-licensed, the
same public runtime PyPI ships). Without it the driver-side Python
worker crashes on ``from pyspark.sql.streaming.proto import
StateMessage_pb2`` and every transformWithState query dies at start.

What it does (all reversible, nothing installed):

- builds a shim dir ``<repo>/.protobuf_shim/google`` containing ONE
  symlink (``protobuf`` -> the SDK copy), so only the protobuf
  subpackage becomes importable — none of the SDK's other top-level
  modules can shadow anything;
- appends the shim to ``sys.path`` (append, not insert: a real
  installed protobuf always wins) and to ``$PYTHONPATH`` so Spark's
  forked Python workers inherit it — which is why this must run
  BEFORE the SparkSession / JVM launches;
- sets protobuf's own documented escape hatch
  ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK=true``: PySpark 4.1's
  gencode is 6.33.0 while the SDK runtime is 6.32.0 — one minor
  version apart within the same major, which the strict
  runtime>=gencode check rejects but the wire format is unaffected by
  (validated end-to-end: the event-time-timer sessionizer's
  stream==batch pin passes under the shim, tests/test_streaming.py).

Opt out with ``SPARK_GRAFT_NO_PB_SHIM=1``. No-op when ``google.
protobuf`` already imports or no SDK copy exists (the import-or-skip
gates in the tests then skip exactly as before).
"""

from __future__ import annotations

import os
import sys

_SDK_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/local/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf(repo_root: str | None = None) -> bool:
    """Make ``google.protobuf`` importable (see module docstring).

    Returns True iff ``import google.protobuf`` succeeds afterwards.
    Idempotent; call before the first SparkSession is built so Python
    workers inherit ``$PYTHONPATH``.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if os.environ.get("SPARK_GRAFT_NO_PB_SHIM") == "1":
        return False
    src = next(
        (
            os.path.join(c, "google", "protobuf")
            for c in _SDK_CANDIDATES
            if os.path.isfile(
                os.path.join(c, "google", "protobuf", "__init__.py")
            )
        ),
        None,
    )
    if src is None:
        return False
    root = repo_root or os.path.dirname(os.path.dirname(__file__))
    shim = os.path.join(root, ".protobuf_shim")
    pkg = os.path.join(shim, "google")
    link = os.path.join(pkg, "protobuf")
    try:
        os.makedirs(pkg, exist_ok=True)
        if not os.path.islink(link) or os.readlink(link) != src:
            if os.path.islink(link):
                os.unlink(link)
            os.symlink(src, link)
    except OSError:
        return False
    if shim not in sys.path:
        sys.path.append(shim)
    existing = os.environ.get("PYTHONPATH", "")
    if shim not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            shim + os.pathsep + existing if existing else shim
        )
    # protobuf's own documented knob for the one-minor-version gap
    # between PySpark's gencode (6.33.0) and the SDK runtime (6.32.0).
    os.environ.setdefault(
        "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
    )
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False
