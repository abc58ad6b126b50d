"""Every atomic publish in the package — files (``write_atomic``),
epoch ledgers (``EpochLedger``), directory swaps (``swap_dir``) and
claims — behind one module: one commit discipline, the
offset/commit-log shape of Structured Streaming, instead of one rename
protocol per module. All of it relies on local-filesystem atomics
(rename, exclusive create, ``link``), hence ``local_root``; an
object-store deployment replaces this module with conditional puts on
the same layout. Calls go through the ``os`` module attributes so
tests can inject crashes at any of them.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

LEDGER_DIR = "_epoch_ledger"
FIRST_EPOCH = -1  # the ANN index's bootstrap epoch; stream epochs start at 0


def local_root(uri: str) -> str:
    """``uri`` as a local path: ``file://`` is stripped so ``os.*`` and
    Spark agree on the directory. Any other scheme is rejected before
    anything is written: data would go to the remote store while the
    markers landed in a local directory named after the scheme."""
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", uri)
    if m and m.group(1).lower() != "file":
        raise ValueError(
            f"{uri!r}: scheme '{m.group(1)}' is not supported: epoch "
            "markers and ledgers use local-FS atomics; use a local path "
            "(object-store deployments swap in a conditional-put ledger "
            "on the same layout)"
        )
    return uri[len("file://"):] if m else uri


def _tmp_beside(path: str) -> str:
    # hidden, so Spark and directory listings skip it; unique, so
    # racing writers never interleave writes into one tmp file
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.tmp-{uuid.uuid4().hex}")


def write_atomic(path: str, data: str | bytes) -> None:
    """Publish ``data`` at ``path`` with one ``os.replace``: readers see
    the old or the new file, never a torn one. On failure the tmp is
    removed and ``path`` is untouched."""
    tmp = _tmp_beside(path)
    try:
        with open(tmp, "wb" if isinstance(data, bytes) else "w") as fh:
            fh.write(data)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


class LedgerState(NamedTuple):
    """One listing of a ledger: the watermark (None until folded) and
    the ascending per-epoch markers above it."""

    hwm: int | None
    extras: list[int]

    def epochs(self) -> list[int]:
        base = list(range(FIRST_EPOCH, self.hwm + 1)) if self.hwm is not None else []
        return base + self.extras

    def prefix_end(self) -> int:
        """Last epoch of the contiguous committed prefix: a gap (a
        crashed, not-yet-replayed epoch) stops it, so a watermark
        written from it never claims an uncommitted epoch."""
        end = self.hwm if self.hwm is not None else FIRST_EPOCH - 1
        extras = set(self.extras)
        while end + 1 in extras:
            end += 1
        return end


class EpochLedger:
    """``<root>/_epoch_ledger/``: an ``epoch-N`` marker per committed
    epoch, created exclusively after the epoch's data landed (the
    create IS the commit), and at most one ``hwm-N`` watermark meaning
    every epoch in [FIRST_EPOCH, N] is committed."""

    def __init__(self, root: str):
        self.root = local_root(root)
        self.dir = os.path.join(self.root, LEDGER_DIR)

    def _marker(self, epoch: int) -> str:
        return os.path.join(self.dir, f"epoch-{epoch}")

    def _hwm(self, epoch: int) -> str:
        return os.path.join(self.dir, f"hwm-{epoch}")

    def state(self) -> LedgerState:
        if not os.path.isdir(self.dir):
            return LedgerState(None, [])
        hwm = None
        extras = []
        for name in os.listdir(self.dir):
            if name.startswith("hwm-"):
                v = int(name[len("hwm-"):])
                hwm = v if hwm is None else max(hwm, v)
            elif name.startswith("epoch-"):
                extras.append(int(name[len("epoch-"):]))
        if hwm is not None:
            extras = [e for e in extras if e > hwm]
        return LedgerState(hwm, sorted(extras))

    def committed(self, epoch: int) -> bool:
        # marker first: fold deletes a marker only after the watermark
        # covering it exists, so this order cannot miss a folded epoch
        if os.path.exists(self._marker(epoch)):
            return True
        hwm = self.state().hwm
        return hwm is not None and epoch <= hwm

    def commit(self, epoch: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        with open(self._marker(epoch), "x") as fh:
            fh.write("committed")

    def _write_hwm(self, epoch: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        with open(self._hwm(epoch), "w") as fh:
            fh.write("committed-through")

    def seed(self, hwm: int, extras: Iterable[int] = ()) -> None:
        """The fresh ledger of a maintenance rewrite, before its swap."""
        self._write_hwm(hwm)
        for e in extras:
            with open(self._marker(e), "x") as fh:
                fh.write("committed")

    def fold(self) -> int | None:
        """Fold the contiguous committed prefix into one watermark and
        return it. Covered markers go only AFTER the watermark exists,
        so a crash mid-fold leaves a superset of the committed facts."""
        st = self.state()
        new = st.prefix_end()
        if new == (st.hwm if st.hwm is not None else FIRST_EPOCH - 1):
            return st.hwm
        self._write_hwm(new)
        stale = [self._hwm(st.hwm)] if st.hwm is not None and st.hwm != new else []
        for p in stale + [self._marker(e) for e in st.extras if e <= new]:
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
        return new


@contextlib.contextmanager
def maintenance_lock(path: str) -> Iterator[None]:
    """One maintenance op at a time: an O_EXCL sentinel at ``path``
    held for the block, so a second op fails loudly instead of racing
    the first one's swap."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another maintenance op holds {path!r} (or crashed holding "
            "it: remove the lock after verifying no compactor/rebuilder "
            "is live)"
        ) from None
    os.close(fd)
    try:
        yield
    finally:
        os.remove(path)


def _stranded(op: str, step: str, window: str, path: str, aside: str, exc: OSError):
    # a writer recreated `path` while it was renamed aside (replace
    # over a non-empty dir raises ENOTEMPTY): never strand the good
    # copy behind a raw OSError
    return RuntimeError(
        f"{op} {step} failed ({exc}); a writer recreated {path!r} "
        f"mid-{window}. The complete pre-swap directory is at {aside!r} "
        "— quiesce writers, merge or discard the recreated dir, then "
        f"rename {aside!r} back to {path!r}"
    )


def swap_dir(
    path: str,
    new: str,
    aside: str,
    op: str,
    recheck: Callable[[str], None] | None = None,
) -> None:
    """Publish the fully written directory ``new`` at ``path`` by two
    renames, ``path`` → ``aside`` then ``new`` → ``path``; in between
    ``path`` is absent and ``aside`` holds the complete old copy.
    ``recheck(aside)`` runs after the first rename, when the old copy
    can no longer change under its old name; if it raises, ``new`` is
    dropped, the old copy is swapped back and the error propagates."""
    shutil.rmtree(aside, ignore_errors=True)
    os.replace(path, aside)
    if recheck is not None:
        try:
            recheck(aside)
        except Exception:
            shutil.rmtree(new, ignore_errors=True)
            try:
                os.replace(aside, path)
            except OSError as exc:
                raise _stranded(op, "swap-back", "restore", path, aside, exc) from exc
            raise
    try:
        os.replace(new, path)
    except OSError as exc:
        raise _stranded(op, "swap", "swap", path, aside, exc) from exc
    shutil.rmtree(aside, ignore_errors=True)


def heal_swap(path: str, new: str, aside: str) -> None:
    """Restore-or-discard an interrupted ``swap_dir``: an ``aside``
    without ``path`` (crash between the renames) is restored; any
    other residue is dropped."""
    if os.path.exists(aside):
        if os.path.exists(path):
            shutil.rmtree(aside)
        else:
            os.replace(aside, path)
    if os.path.exists(new):
        shutil.rmtree(new)


def publish_dir(tmp: str, path: str) -> None:
    """First writer wins: rename the fully built ``tmp`` to ``path``;
    the loser of a race discards its copy."""
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def claim_next(data: str, name: Callable[[int], str], first: int) -> int:
    """Publish ``data`` as the first free ``name(k)``, k >= ``first``,
    and return k: the complete file is hard-linked from a tmp, and
    ``link`` fails on an existing name, so claim and content land
    together and concurrent writers need no lock server."""
    tmp = _tmp_beside(name(first))
    try:
        with open(tmp, "w") as fh:
            fh.write(data)
        k = first
        while True:
            try:
                os.link(tmp, name(k))
                return k
            except FileExistsError:
                k += 1
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def publish_staged_file(df, dst: str) -> None:
    """Land ``df`` as ONE parquet file at ``dst``: Spark writes it to a
    hidden stage directory beside ``dst`` and one rename moves the part
    file in, so a file source watching ``dst``'s directory never lists
    a partial file."""
    stage = _tmp_beside(dst)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.replace(os.path.join(stage, part), dst)
    shutil.rmtree(stage, ignore_errors=True)
