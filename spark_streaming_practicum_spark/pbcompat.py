"""google.protobuf bootstrap for transformWithStateInPandas.

Spark 4's typed-state API (transformWithStateInPandas) talks to the
JVM state server through protobuf messages
(pyspark/sql/streaming/proto/StateMessage_pb2.py). This sandbox has no
``google.protobuf`` in site-packages and no package index, but it DOES
ship a complete pure-Python protobuf runtime (version 6.32.0, BSD
licensed) inside the Google Cloud SDK's bundled App Engine runtime —
``/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf``.

Two obstacles, both handled here:

1. the vendored copy is not on ``sys.path`` → append its parent
   directory (``google`` there is a namespace dir, so
   ``google.protobuf`` resolves without touching anything else);
2. pyspark's generated gencode was built by protoc 6.33 and the
   runtime-version validator hard-rejects the one-minor-version gap
   (gencode 6.33 > runtime 6.32). The StateMessage schema uses no
   6.33-only descriptor feature, so the validator is no-op'd; the
   end-to-end oracle check (stream_tws_event_counts vs its batch
   aggregate) is the proof the wire format actually round-trips.

Call sites: ``operators/stateful_stream.py`` gates query registration
on :func:`ensure_protobuf`; ``streaming/tws_processor.py`` imports this
module at module level so the bootstrap ALSO runs inside Python workers
— the worker imports the processor module while unpickling the UDF, and
every StateMessage_pb2 import in pyspark's state clients is lazy
(method-local), so the unpickle-time bootstrap always lands first.
The stateful queries there build and drain inside :func:`worker_env`,
which gives the spawned runners the protobuf runtime and the package.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

_VENDORED = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable and pyspark's generated state
    protos loadable; return whether the TWS proto stack is usable."""
    # Probe for REAL runtime content, not the bare package: in Spark's
    # spawned python runners an empty `google`/`google.protobuf`
    # namespace portion can resolve spuriously, and namespace packages
    # re-scan sys.path dynamically, so appending the vendored dir
    # repairs even an already-imported empty namespace.
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        if not os.path.isdir(os.path.join(_VENDORED, "google", "protobuf")):
            return False
        if _VENDORED not in sys.path:
            sys.path.append(_VENDORED)
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            return False
    try:
        from google.protobuf import runtime_version

        # waive the gencode-6.33-vs-runtime-6.32 strictness (docstring §2)
        runtime_version.ValidateProtobufRuntimeVersion = lambda *a, **k: None
    except ImportError:
        pass  # older runtimes have no validator at all
    # Fresh JVMs launched after this point hand the vendored path to
    # their Python workers through the environment as well.
    pp = os.environ.get("PYTHONPATH", "")
    if _VENDORED not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pp + os.pathsep if pp else "") + _VENDORED
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    except Exception:
        return False
    return True


def worker_pythonpath() -> str:
    """PYTHONPATH fragment that makes Spark-SPAWNED Python runners able to
    run this package's stateful operators: the vendored protobuf runtime,
    the sitecustomize shim that waives the gencode version pin at
    interpreter startup, and the package root.

    The protobuf part is needed because the transformWithStateInPandas
    PRE-INIT driver runner deserializes the UDF with cloudpickle BY
    VALUE — no repo module import ever runs there, so the in-process
    bootstrap above cannot reach it; only its environment can. The
    package root is needed because the state functions are pickled BY
    REFERENCE, so every worker imports this package: a driver that finds
    it only through ``sys.path`` (not the worker's working directory or
    an installed copy) would leave the workers with
    ``ModuleNotFoundError``."""
    here = os.path.dirname(os.path.abspath(__file__))
    return os.pathsep.join(
        [os.path.join(here, "_pbshim"), _VENDORED, os.path.dirname(here)]
    )


@contextmanager
def worker_env(spark):
    """Append :func:`worker_pythonpath` to ``sc.environment["PYTHONPATH"]``
    for the duration of the block, then restore it. Spark copies
    ``sc.environment`` into a Python UDF when the UDF is wrapped, and the
    JVM hands it to every runner it spawns for that UDF, so the block
    must cover building the stateful operator."""
    env = spark.sparkContext.environment
    prev = env.get("PYTHONPATH")
    extra = worker_pythonpath()
    env["PYTHONPATH"] = extra if not prev else prev + os.pathsep + extra
    try:
        yield
    finally:
        if prev is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = prev
