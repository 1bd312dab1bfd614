"""Build-once persisted artifacts: one location recipe, one atomic publish.

The persisted ANN indexes, the dedup decision sets and the bucketed
layouts are each derived from one source file, written once and then
read by every later query — the reference's write-once lake and keyed
tables (PAPER.md). :func:`artifact_dir` names a version of one;
:func:`build_once` builds, publishes and garbage-collects it.
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import shutil
from collections.abc import Callable, Iterable, Mapping
from types import ModuleType

__all__ = ["WAREHOUSE", "artifact_dir", "build_once"]

#: the gitignored warehouse at the checkout root
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)

_MARKER = "_BUILT"
#: a version tag is ``<prefix>_<size>_<mtime>_<digest12>``
_VERSION = r"_\d+_\d+_[0-9a-f]{12}"


@functools.cache
def _file_digest(path: str) -> bytes:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).digest()


def artifact_dir(
    area: str,
    kind: str,
    source: str,
    params: Mapping[str, object],
    code: Iterable[ModuleType] = (),
) -> str:
    """``<checkout>/spark-warehouse/<area>/<tag>`` for the artifact
    ``kind`` built from ``source`` with ``params`` by the ``code``
    modules.

    The tag is ``<kind>_<source dir>_<size>_<mtime>_<digest12>`` with
    every character outside ``[A-Za-z0-9_]`` replaced by ``_``, so it is
    also a valid SQL table name. ``digest12`` hashes the sorted
    ``params`` and the bytes of each ``code`` module's file (read once
    per process). Two live artifacts must not share a kind and source
    dir: :func:`build_once` prunes the other versions of that prefix.
    """
    st = os.stat(source)
    h = hashlib.sha256(repr(sorted(params.items())).encode())
    for mod in code:
        h.update(_file_digest(mod.__file__))
    src_dir = os.path.basename(os.path.dirname(os.path.abspath(source)))
    tag = re.sub(
        r"[^A-Za-z0-9_]",
        "_",
        f"{kind}_{src_dir}_{st.st_size}_{int(st.st_mtime)}_{h.hexdigest()[:12]}",
    )
    return os.path.join(WAREHOUSE, area, tag)


def build_once(path: str, build: Callable[[str], None]) -> str:
    """Make ``path`` a complete artifact and return it.

    If ``path/_BUILT`` exists, return at once. Otherwise run
    ``build(tmp)``, which creates the pid-private sibling directory
    ``tmp = <path>.build<pid>`` and writes the artifact into it, write
    ``_BUILT`` there and rename it to ``path``; the rename is the
    commit point. A concurrent builder that renamed first wins: this
    copy is discarded and the winner's is used. A build that raises
    publishes nothing. After publishing, sibling versions of the same
    prefix (see :func:`artifact_dir`) are deleted. ``path`` itself is
    never deleted, so a reader of a published artifact is never cut
    off by a rebuild.
    """
    marker = os.path.join(path, _MARKER)
    if os.path.exists(marker):
        return path
    tmp = f"{path}.build{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            fh.write("ok\n")
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(marker):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    parent, name = os.path.split(path)
    version = re.fullmatch(r"(.+)" + _VERSION, name)
    if version:
        # strict match: a kind whose source dir merely extends this one
        # ('sf1' vs 'sf1_new') is a different artifact, not a version
        stale = re.compile(re.escape(version.group(1)) + _VERSION)
        for sib in os.listdir(parent):
            if sib != name and stale.fullmatch(sib):
                shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)
    return path
