"""The versioned-JSON commit protocol every metadata writer shares.

A ``VersionedFileStore`` is a directory of immutable JSON documents
numbered densely from 1 (``v00000001.metadata.json``, ``cat-v1.json``)
plus one hint file naming the current version:

- version ``v`` is created with ``O_CREAT | O_EXCL``: of two writers racing
  for the same ``v`` exactly one create succeeds, the other gets
  ``CommitConflict``;
- the document is fsynced, then the hint is flipped with an atomic
  ``os.replace`` — the commit point. Readers resolve the hint first, so
  they never see a half-written document;
- versions more than ``keep`` behind the new one are deleted (Iceberg's
  ``write.metadata.previous-versions-max`` analog): without it the
  directory grows by one full document per commit forever.

``update(mutate)`` is the one optimistic-commit loop: read the current
document, let ``mutate`` edit a fresh copy, write the next version, and on
``CommitConflict`` back off (jittered) and start over from the winner's
document. Table snapshots, branch and tag moves, snapshot expiry and
catalog pointer flips all commit through it, so a retry always recomputes
against what actually won.

Reference analog: the once-only promise latch — nvImageCodec's
``ProcessingResultsPromise::set`` throws on double-set
(``src/processing_results.cpp:30-48``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable


class CommitConflict(RuntimeError):
    """Another writer committed the same metadata version first."""


COMMIT_RETRIES = 15


class VersionedFileStore:
    def __init__(self, directory: str, name_format: str, hint_name: str, keep: int = 50):
        self.directory = directory
        self.name_format = name_format  # e.g. "v{:08d}.metadata.json"
        self.hint_path = os.path.join(directory, hint_name)
        self.keep = keep

    def path(self, v: int) -> str:
        return os.path.join(self.directory, self.name_format.format(v))

    def read(self) -> dict:
        """The current document, with its version under ``"_version"``."""
        with open(self.hint_path) as f:
            v = int(f.read().strip())
        with open(self.path(v)) as f:
            doc = json.load(f)
        doc["_version"] = v
        return doc

    def write(self, v: int, doc: dict) -> dict:
        """Commit ``doc`` as version ``v`` (keys starting with ``_`` are not
        persisted) and return it as committed, with ``"_version"``. Raises
        CommitConflict if ``v`` exists."""
        doc = {k: val for k, val in doc.items() if not k.startswith("_")}
        try:
            fd = os.open(self.path(v), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(f"{self.path(v)} already committed") from e
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=1, default=str)
            f.flush()
            os.fsync(f.fileno())
        tmp = self.hint_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.hint_path)  # atomic flip — the commit point
        doc["_version"] = v
        # versions are dense, so walking down from the floor until a miss
        # bounds the work to what this call deletes (no directory listing)
        old = v - self.keep
        while old >= 1 and os.path.exists(self.path(old)):
            try:
                os.remove(self.path(old))
            except OSError:
                break
            old -= 1
        return doc

    def update(
        self,
        mutate: Callable[[dict], bool | None],
        read: Callable[[], dict],
        write: Callable[[int, dict], object],
    ) -> dict | None:
        """Optimistic read-modify-write. ``mutate`` edits a shallow copy of
        the current document in place (replace nested values, never edit
        them); returning False abandons the update — nothing is written and
        None is returned. Otherwise returns the document as written.
        ``read`` / ``write`` are the owner's wrappers of ``self.read`` /
        ``self.write`` that keep its cached copy of the current document
        in step with every attempt."""
        last: CommitConflict | None = None
        for attempt in range(COMMIT_RETRIES):
            doc = dict(read())
            v = doc["_version"] + 1
            if mutate(doc) is False:
                return None
            try:
                write(v, doc)
            except CommitConflict as e:  # lost the race — redo on the winner
                last = e
                time.sleep(
                    min(0.05 * (attempt + 1), 0.5) * (0.5 + 0.5 * os.urandom(1)[0] / 255)
                )
                continue
            doc["_version"] = v
            return doc
        raise last  # type: ignore[misc]
