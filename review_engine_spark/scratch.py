"""The one place that decides where the engine writes local files: a root
``<tempfile.gettempdir()>/review_engine_spark-<uid>/`` private to its user,
holding ``run-<pid>/`` (``scratch_dir``, removed at exit, or by the next
process to make its own if this one was killed first) and ``artifacts/``
(trained BPE rules, unigram vocabulary and PCA components, kept across
processes and keyed by the stat of every file of the training table)."""

from __future__ import annotations

import atexit
import contextlib
import functools
import hashlib
import json
import os
import shutil
import tempfile
import threading
from typing import Any, Callable

from review_engine_spark.sources.io import _local_files_key

_root: str | None = None  # from gettempdir() on first use
_MEMO: dict[str, Any] = {}  # artifact key -> value, for this process


def root() -> str:
    global _root
    _root = _root or os.path.join(tempfile.gettempdir(), f"review_engine_spark-{os.getuid()}")
    os.makedirs(_root, mode=0o700, exist_ok=True)
    if os.stat(_root).st_uid != os.getuid():
        raise PermissionError(f"scratch root {_root} belongs to another user")
    return _root


def _sweep_dead_runs(root: str) -> None:
    """Remove the ``run-<pid>/`` directories of processes that are gone
    without running their exit handler (SIGKILL). A pid that is alive, or
    that this process may not signal, keeps its directory."""
    for name in os.listdir(root):
        pid = name.removeprefix("run-")
        if pid == name or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except PermissionError:
            pass


@functools.cache
def _run_dir(root: str, pid: int) -> str:
    _sweep_dead_runs(root)
    run = os.path.join(root, f"run-{pid}")
    os.makedirs(run, exist_ok=True)
    atexit.register(lambda: os.getpid() == pid and shutil.rmtree(run, ignore_errors=True))
    return run


def scratch_dir(prefix: str) -> str:
    """A new directory, removed when this process (not a fork of it) exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=_run_dir(root(), os.getpid()))


def artifact_key(kind: str, table: str, **params: Any) -> str | None:
    """Key of an artifact trained on the parquet ``table`` with ``params``;
    None where its files cannot be listed (nested, URI or glob layouts)."""
    files = _local_files_key(os.path.abspath(table))
    if files is None:
        return None
    return f"{kind}-{hashlib.sha256(repr((files, sorted(params.items()))).encode()).hexdigest()[:32]}"


def artifact_path(key: str) -> str:
    return os.path.join(root(), "artifacts", f"{key}.json")


def load_artifact(key: str | None) -> Any:
    """The value saved under ``key``, or None. A payload that does not parse
    or carries another key is deleted, so the caller retrains."""
    if key is None or key in _MEMO:
        return _MEMO.get(key)
    path = artifact_path(key)
    try:
        with open(path) as fh:
            art = json.load(fh)
        if art["key"] == key:
            _MEMO[key] = art["value"]
            return art["value"]
    except FileNotFoundError:
        return None
    except (OSError, ValueError, KeyError, TypeError):
        pass
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)
    return None


def save_artifact(key: str | None, value: Any) -> None:
    if key is None:
        return
    path = artifact_path(key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}-{threading.get_ident()}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"key": key, "value": value}, fh)
    os.replace(tmp, path)  # readers see the old file or the new one
    _MEMO[key] = value


def artifact(key: str | None, train: Callable[[], Any]) -> Any:
    """The value saved under ``key``, else ``train()``, saved."""
    value = load_artifact(key)
    if value is None:
        value = train()
        save_artifact(key, value)
    return value
