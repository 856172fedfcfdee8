"""Standing stores: where a persisted intermediate lives, and when it counts
as built. The persisted IVF, IVF-PQ and LSH indexes, the epoch-fenced
stores, the q150 bucketed table and the replays' slice directories all get
their location from ``path`` and are built through ``ensure``
(SCALE.md "Standing stores"). Every in-query intermediate is cut through
``materialize`` (SCALE.md "Materialization").

- Path: ``<gettempdir()>/<name>_<application id>_<sf_dir tag>``, both ids
  reduced to ``[A-Za-z0-9_]``, so two sessions never share a store and one
  session keeps one store per scale.
- Marker: a store is built once ``MARKER`` exists in its root. ``ensure``
  writes it after ``build(path)`` returns, so a build that raises is run
  again by the next call; the fencing inside each build (overwrite-mode
  writes, ``EpochStore``) makes that re-run converge. The ``_`` prefix
  keeps parquet and file-stream readers off it.
- Lifetime: one application. Every path handed out in this process is
  removed at interpreter exit; no later process can reuse it, because its
  application id differs.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import re
import shutil
import tempfile
import threading
from collections import Counter
from typing import Callable

MARKER = "_SUCCESS"

# (re)build count per store path: a probe must never rebuild its store
BUILDS: Counter[str] = Counter()
_LOCK = threading.Lock()

_PATHS: set[str] = set()  # removed at exit


def _tag(s: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", s)


def path(spark, sf_dir: str, name: str) -> str:
    """The root of store ``name`` for this application and ``sf_dir``."""
    app_id = _tag(spark.sparkContext.applicationId)
    root = os.path.join(
        tempfile.gettempdir(), f"{name}_{app_id}_{_tag(sf_dir.rstrip('/'))}"
    )
    _PATHS.add(root)
    return root


def ensure(
    spark, sf_dir: str, name: str, build: Callable[[str], object], force: bool = False
) -> str:
    """Run ``build(root)`` once per (application, ``sf_dir``) and return the
    root of store ``name``; ``force`` drops the marker first."""
    root = path(spark, sf_dir, name)
    marker = os.path.join(root, MARKER)
    if force:
        with contextlib.suppress(FileNotFoundError):
            os.remove(marker)
    elif os.path.exists(marker):
        return root
    build(root)
    os.makedirs(root, exist_ok=True)
    open(marker, "w").close()
    with _LOCK:
        BUILDS[root] += 1
    return root


def materialize(df, reason: str):
    """``df.localCheckpoint()``, with the checkpoint's eager job tagged
    ``materialize:<reason>`` (``reason`` has no commas: Spark joins a
    job's tags with them). The thread's job tags are restored afterwards,
    also when the checkpoint raises."""
    sc = df.sparkSession.sparkContext
    tag = f"materialize:{reason}"
    sc.addJobTag(tag)
    try:
        return df.localCheckpoint()
    finally:
        sc.removeJobTag(tag)


@atexit.register
def remove_all() -> None:
    """Remove every store root ``path`` handed out in this process."""
    for root in list(_PATHS):
        shutil.rmtree(root, ignore_errors=True)
