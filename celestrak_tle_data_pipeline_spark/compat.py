"""Optional-dependency shims.

``transformWithStateInPandas`` (the Spark 4 arbitrary-state streaming
API, ``streaming/stateful_v2.py``) proto-serializes its driver↔worker
state handshake, so the Python side needs a ``google.protobuf`` runtime.
This container has no protobuf wheel installed (and installing one is
out of scope), but it does ship a pure-Python protobuf runtime inside
the Google Cloud SDK's vendored third-party tree. ``ensure_protobuf``
makes that runtime importable as ``google.protobuf`` WITHOUT installing
anything:

1. appends the gcloud vendored dirs to ``sys.path`` (appends, never
   prepends — anything already importable keeps winning);
2. installs a no-op ``google.protobuf.runtime_version`` module when the
   runtime predates protobuf 5.27 (pyspark's generated ``*_pb2`` files
   call ``ValidateProtobufRuntimeVersion`` at import; the proto3
   messages themselves load fine on the 4.x runtime — verified by
   round-tripping ``StateMessage_pb2`` messages).

The DRIVER side calls this directly (tests/conftest.py). The WORKER
side can't — workers are fresh interpreters — so ``tools/pbshim/``
holds a self-contained ``sitecustomize.py`` with the same logic;
putting that dir on ``PYTHONPATH`` before the SparkSession starts makes
every Python worker run it at interpreter startup (the standard
``site`` mechanism), which is exactly when it must run: before pyspark
imports ``StateMessage_pb2``.

Everything degrades gracefully: with no vendored runtime present,
``ensure_protobuf`` returns False and callers skip, same as before.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import types

GCLOUD_THIRD_PARTY = "/usr/lib/google-cloud-sdk/lib/third_party"
GCLOUD_CLOUDSDK = os.path.join(GCLOUD_THIRD_PARTY, "cloudsdk")
PBSHIM_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "pbshim",
)


def _real_protobuf() -> bool:
    """True iff ``google.protobuf`` imports as actual Python code.

    A plain try/except ImportError is NOT enough: with spark JARs on
    the path (worker processes), the JAR's internal
    ``google/protobuf/*.class`` tree satisfies the import as a phantom
    PEP 420 namespace package — no ``__file__``, no modules — and the
    failure only surfaces later as "cannot import name 'descriptor'
    ... (unknown location)".
    """
    try:
        import google.protobuf as gp

        return getattr(gp, "__file__", None) is not None
    except ImportError:
        return False


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable; True iff it now is."""
    if not _real_protobuf():
        if not os.path.isdir(GCLOUD_CLOUDSDK):
            return False
        # cloudsdk/ FIRST: both it and third_party/ hold a regular
        # ``google`` package, and only cloudsdk's contains protobuf —
        # a regular package beats namespace portions at any position
        for p in (GCLOUD_CLOUDSDK, GCLOUD_THIRD_PARTY):
            if p not in sys.path:
                sys.path.append(p)
        # purge any phantom namespace-shell modules so the re-import
        # resolves the regular package
        for name in [
            n for n in sys.modules if n == "google" or n.startswith("google.")
        ]:
            del sys.modules[name]
        if not _real_protobuf():
            return False
    try:
        from google.protobuf import runtime_version  # noqa: F401
    except ImportError:
        import google.protobuf as gp

        mod = types.ModuleType("google.protobuf.runtime_version")

        class Domain:  # mirrors protobuf 5.x's enum surface
            GOOGLE_INTERNAL = 1
            PUBLIC = 2

        mod.Domain = Domain
        mod.ValidateProtobufRuntimeVersion = lambda *a, **k: None
        sys.modules["google.protobuf.runtime_version"] = mod
        gp.runtime_version = mod
    return True


def worker_pythonpath() -> str:
    """PYTHONPATH value that applies the shim in Python workers too.

    Prepends ``tools/pbshim`` (whose ``sitecustomize.py`` runs the same
    logic at worker interpreter startup) to the current PYTHONPATH.
    Call BEFORE creating the SparkSession and export via
    ``os.environ['PYTHONPATH']`` so local-mode workers inherit it.
    """
    parts = [PBSHIM_DIR]
    existing = os.environ.get("PYTHONPATH")
    if existing:
        parts.append(existing)
    return os.pathsep.join(parts)


_ENV_LOCK = threading.Lock()
_env_users = 0
_env_prior: str | None = None


@contextlib.contextmanager
def shim_on_workers(sc):
    """Put ``worker_pythonpath()`` on ``sc.environment['PYTHONPATH']``
    for the block: Python UDFs wrapped inside it launch their workers
    with the shim, also on a session started without it.

    A process has one SparkContext, whose ``environment`` every session
    and thread shares, so the count of open blocks is per process: the
    first block in saves the value it found and the last one out
    restores it, whatever the interleaving.
    """
    global _env_users, _env_prior
    with _ENV_LOCK:
        if _env_users == 0:
            _env_prior = sc.environment.get("PYTHONPATH")
            sc.environment["PYTHONPATH"] = worker_pythonpath()
        _env_users += 1
    try:
        yield
    finally:
        with _ENV_LOCK:
            _env_users -= 1
            if _env_users == 0:
                if _env_prior is None:
                    sc.environment.pop("PYTHONPATH", None)
                else:
                    sc.environment["PYTHONPATH"] = _env_prior
