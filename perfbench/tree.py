"""Seeded HopsFS-style inode tree and its closed-form answers.

Directories are generated level by level (``MAX_DEPTH`` levels in all)
with Poisson sub-directory counts; files are spread over directories
with Pareto weights, so a few directories hold tens of thousands of
entries and most hold a handful. Names are unique across the tree:
``d<id>`` for directories, ``f<id>`` for files, where ``<id>`` is the
inode id. A directory's path is its ancestors' names joined by ``/``;
each row's ``parent`` is the parent directory's path (``""`` for the
roots), matching ``hops_spark.catalog.metastore``.

Every metadata read the benchmark issues has an answer computed here from
the generator's arrays, without Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MAX_DEPTH = 8
N_ROOTS = 32
MEAN_FANOUT = 3.2
LISTING_BATCH = 1000
_MTIME_US = np.datetime64("2025-01-01", "us").astype(np.int64)


class Tree:
    def __init__(self, n_inodes: int, seed: int):
        rng = np.random.default_rng(seed)
        # -- directories, level by level ---------------------------------
        parent = [-1] * N_ROOTS
        depth = [0] * N_ROOTS
        level = list(range(N_ROOTS))
        max_dirs = max(n_inodes // 16, N_ROOTS)
        fanout = min(MEAN_FANOUT, max(1.0, (max_dirs / N_ROOTS)
                                      ** (1.0 / (MAX_DEPTH - 1))))
        for d in range(1, MAX_DEPTH):
            if len(parent) >= max_dirs:
                break
            kids = rng.poisson(fanout, len(level))
            nxt = []
            for p, k in zip(level, kids):
                for _ in range(int(k)):
                    if len(parent) >= max_dirs:
                        break
                    nxt.append(len(parent))
                    parent.append(p)
                    depth.append(d)
            level = nxt
        n_dirs = len(parent)
        n_files = n_inodes - n_dirs
        self.n_dirs, self.n_files = n_dirs, n_files
        self.n_inodes = n_inodes
        self.dir_parent = np.asarray(parent, dtype=np.int64)
        self.dir_depth = np.asarray(depth, dtype=np.int64)
        paths: list[str] = []
        for i, p in enumerate(parent):
            paths.append(f"d{i}" if p < 0 else f"{paths[p]}/d{i}")
        self.dir_path = paths
        # -- files ------------------------------------------------------------
        w = rng.pareto(1.5, n_dirs) + 0.05
        self.file_dir = rng.choice(n_dirs, size=n_files, p=w / w.sum())
        self.file_size = np.minimum(
            rng.lognormal(9.0, 2.0, n_files), 1 << 34).astype(np.int64)
        self.mtime = _MTIME_US + rng.integers(0, 365 * 86_400_000_000,
                                              n_inodes)
        self.owner = rng.integers(0, 32, n_inodes)
        # -- per-directory aggregates (closed forms) ------------------------
        par_of_dir = np.where(self.dir_parent >= 0, self.dir_parent, 0)
        is_child_dir = self.dir_parent >= 0
        self.n_children = (np.bincount(self.file_dir, minlength=n_dirs)
                           + np.bincount(par_of_dir[is_child_dir],
                                         minlength=n_dirs))
        self.child_bytes = np.bincount(self.file_dir, weights=self.file_size,
                                       minlength=n_dirs).astype(np.int64)
        order = np.argsort(self.file_dir, kind="stable")
        self._files_sorted = order
        self._file_off = np.concatenate(
            [[0], np.cumsum(np.bincount(self.file_dir, minlength=n_dirs))])
        self._subdirs: list[list[int]] = [[] for _ in range(n_dirs)]
        for i, p in enumerate(parent):
            if p >= 0:
                self._subdirs[p].append(i)

    # -- inode rows -----------------------------------------------------------
    def inode_id_of_file(self, k: int) -> int:
        return self.n_dirs + int(k)

    def arrow(self) -> pa.Table:
        """All inodes in ``INODE_SCHEMA`` order, without partition_id."""
        nd = self.n_dirs
        ids = np.arange(self.n_inodes, dtype=np.int64)
        paths = pa.array([""] + self.dir_path, pa.string())
        parent_idx = np.concatenate([self.dir_parent + 1, self.file_dir + 1])
        parent = pa.DictionaryArray.from_arrays(
            pa.array(parent_idx, pa.int32()), paths).cast(pa.string())
        prefix = np.where(ids < nd, "d", "f").astype(object)
        return pa.table({
            "inode_id": pa.array(ids, pa.int64()),
            "parent": parent,
            "name": pc.binary_join_element_wise(
                pa.array(prefix, pa.string()),
                pc.cast(pa.array(ids), pa.string()), ""),
            "is_dir": pa.array(ids < nd, pa.bool_()),
            "size": pa.array(np.concatenate(
                [np.zeros(nd, np.int64), self.file_size]), pa.int64()),
            "mtime": pa.array(self.mtime, pa.timestamp("us")),
            "owner": pc.binary_join_element_wise(
                "u", pc.cast(pa.array(self.owner), pa.string()), ""),
            "small_file_data": pa.nulls(self.n_inodes, pa.binary()),
        })

    # -- closed-form answers --------------------------------------------------
    def children(self, d: int) -> list[tuple[str, int, int]]:
        """(name, inode_id, size) of every child of directory ``d``."""
        out = [(f"d{c}", c, 0) for c in self._subdirs[d]]
        lo, hi = self._file_off[d], self._file_off[d + 1]
        for k in self._files_sorted[lo:hi]:
            iid = self.inode_id_of_file(k)
            out.append((f"f{iid}", iid, int(self.file_size[k])))
        return out

    def n_child(self, d: int) -> int:
        return int(self.n_children[d])

    def child(self, d: int, k: int) -> tuple[str, int, int]:
        """The ``k``-th child of directory ``d``: (name, inode_id, size)."""
        subs = self._subdirs[d]
        if k < len(subs):
            return f"d{subs[k]}", subs[k], 0
        f = self._files_sorted[self._file_off[d] + k - len(subs)]
        iid = self.inode_id_of_file(f)
        return f"f{iid}", iid, int(self.file_size[f])

    def listing(self, d: int) -> list[str]:
        return sorted(n for n, _i, _s in self.children(d))[:LISTING_BATCH]

    def subtree_dirs(self, d: int) -> list[int]:
        out, stack = [], [d]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(self._subdirs[x])
        return out

    def content_summary(self, d: int) -> dict[str, tuple[int, int]]:
        """Rows of ``content_summary(subtree_members(d))``: every directory
        of the subtree that has children → (entries, bytes)."""
        return {self.dir_path[x]: (int(self.n_children[x]),
                                   int(self.child_bytes[x]))
                for x in self.subtree_dirs(d) if self.n_children[x] > 0}

    def subtree_size(self, d: int) -> tuple[int, int]:
        """(members, bytes) below directory ``d``."""
        dirs = self.subtree_dirs(d)
        return (int(self.n_children[dirs].sum()),
                int(self.child_bytes[dirs].sum()))

    def glob_prefix(self, prefix: str) -> tuple[int, int]:
        """(matches, sum of inode ids) of file names ``f<prefix>*``."""
        lo_id, hi_id = self.n_dirs, self.n_inodes
        n = s = 0
        p = int(prefix)
        for extra in range(0, len(str(hi_id)) - len(prefix) + 1):
            a = max(p * 10 ** extra, lo_id)
            b = min((p + 1) * 10 ** extra, hi_id)
            if b > a:
                n += b - a
                s += (a + b - 1) * (b - a) // 2
        return n, s
