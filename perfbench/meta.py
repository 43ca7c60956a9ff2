"""``meta_ops``: HopsFS-style metadata operations against a cached inode
catalog, closed-loop client threads (one per two cores).

Reads (90%): ``file_info``, ``listing``, ``glob_status``,
``batched_lookup`` and ``content_summary`` over ``subtree_members``, in
the shares of ``DECK``. Writes (10%): ``subtree_delete`` and
``subtree_rename``; each appends its
metadata-log rows as a parquet batch and folds that batch into one
shared ``cdc.QuotaState`` (one fold at a time, as a single quota updater
would). The catalog is an immutable snapshot: a write's post-state is not
swapped in, so every read keeps a closed-form answer from the generator.
Directory targets are Zipf-skewed over a seeded ranking of the
directories two or more levels deep.

A request's latency runs from the call into the catalog until its result
is collected at the client (for writes: until the log batch is written
and folded). Results are checked after the window: reads against the
tree's closed forms, each write's log batch against its subtree's size,
and the final quota state against ``cdc.quota_from_scratch`` over the
full log.
"""

from __future__ import annotations

import os
import random
import threading
import time

import numpy as np

from perfbench.batch import Result, error_text

# Each client works through decks of DECK requests in a seeded shuffle.
# Read shares follow the operation mix of Spotify's HDFS cluster (Niazi
# et al., "HopsFS", FAST'17, Table 1): read (getBlockLocations) 68.73%
# and stat 17% -> ``file_info``, list 9% -> ``listing``, content summary
# 0.01% -> ``content_summary``; ``glob_status`` and ``batched_lookup``
# have no counterpart there. Every read kind appears at least once a
# deck, the rest of the 36 reads are split 85.73 : 9 as read + stat
# against list. Writes are 10% of the deck; delete 0.75% against move
# 1.3% rounds to 1 : 3.
DECK = (("file_info",) * 30 + ("listing",) * 3 + ("glob_status",)
        + ("batched_lookup",) + ("content_summary",)
        + ("subtree_delete",) + ("subtree_rename",) * 3)
WRITES = ("subtree_delete", "subtree_rename")
KINDS = tuple(dict.fromkeys(DECK))
ZIPF_S = 1.0
MIN_DECKS = 2       # timed decks per client, at least
CATALOG_ROW_GROUP = 65_536


def write_catalog(tree, path: str) -> None:
    """Store the tree as parquet (input generation)."""
    import pyarrow.parquet as pq
    pq.write_table(tree.arrow(), path, row_group_size=CATALOG_ROW_GROUP)


def load_catalog(spark, path: str):
    """Read the stored tree with partition ids and cache it in memory;
    returns the cached DataFrame."""
    from hops_spark.catalog import metastore as ms
    df = ms.with_partition_id(spark.read.parquet(path))
    df = df.select(*ms.INODE_SCHEMA.fieldNames()).cache()
    df.count()
    return df


class MetaWorkload:
    def __init__(self, spark, tree, inodes, log_dir: str, seed: int,
                 tracer, status):
        from hops_spark.catalog import cdc
        self.spark = spark
        self.tree = tree
        self.inodes = inodes
        self.log_dir = log_dir
        self.seed = seed
        self.tracer = tracer
        self.status = status
        self.quota = cdc.QuotaState(spark)
        self._fold_lock = threading.Lock()
        self._seq_lock = threading.Lock()
        self._seq = 0
        self.jobstats: dict[str, list] = {}
        self.build_s: dict[str, float] = {}
        self.eager_jobs: dict[str, int] = {}
        rng = np.random.default_rng(seed + 1)
        deep = np.flatnonzero(tree.dir_depth >= 2)
        if len(deep) == 0:
            deep = np.arange(tree.n_dirs)
        self.targets = rng.permutation(deep)
        w = 1.0 / np.arange(1, len(self.targets) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def _next_seq(self) -> int:
        with self._seq_lock:
            self._seq += 1
            return self._seq

    def _dir(self, rng: random.Random) -> int:
        i = int(np.searchsorted(self.cdf, rng.random()))
        return int(self.targets[min(i, len(self.targets) - 1)])

    # -- one request --------------------------------------------------------
    def make_request(self, kind: str, rng: random.Random):
        """Return (build, execute, expected) for one request of ``kind``.
        ``build(spark)`` calls the catalog and returns a DataFrame;
        ``execute(df)`` runs it and returns the comparable answer."""
        from pyspark.sql import functions as F

        from hops_spark.catalog import metastore as ms
        t = self.tree
        inodes = self.inodes
        rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731

        if kind == "file_info":
            d = self._dir(rng)
            if t.n_child(d):
                name, iid, size = t.child(d, rng.randrange(t.n_child(d)))
                parent = t.dir_path[d]
            else:
                name, iid, size = f"d{d}", d, 0
                p = int(t.dir_parent[d])
                parent = t.dir_path[p] if p >= 0 else ""
            return (lambda sp: ms.file_info(inodes, parent, name)
                    .select("inode_id", "size"),
                    rows, [(iid, size)])
        if kind == "listing":
            d = self._dir(rng)
            return (lambda sp: ms.listing(inodes, t.dir_path[d])
                    .select("name"),
                    lambda df: [r[0] for r in df.collect()],
                    t.listing(d))
        if kind == "glob_status":
            iid = str(t.n_dirs + rng.randrange(t.n_files))
            prefix = iid[:max(1, len(iid) - 2)]
            return (lambda sp: ms.glob_status(inodes, f"f{prefix}*")
                    .agg(F.count("*"), F.sum("inode_id")),
                    lambda df: tuple(int(x or 0) for x in df.collect()[0]),
                    t.glob_prefix(prefix))
        if kind == "batched_lookup":
            keys, want = [], set()
            for _ in range(48):
                d = self._dir(rng)
                if t.n_child(d):
                    name, iid, _s = t.child(d, rng.randrange(t.n_child(d)))
                    keys.append((t.dir_path[d], name))
                    want.add(iid)
            keys += [(t.dir_path[self._dir(rng)], f"x{i}") for i in range(16)]
            return (lambda sp: ms.batched_lookup(
                        inodes, sp.createDataFrame(
                            keys, "parent string, name string"))
                    .select("inode_id"),
                    lambda df: sorted(r[0] for r in df.collect()),
                    sorted(want))
        if kind == "content_summary":
            d = self._dir(rng)
            return (lambda sp: ms.content_summary(
                        ms.subtree_members(inodes, t.dir_path[d])),
                    lambda df: {r[0]: (int(r[1]), int(r[2]))
                                for r in df.collect()},
                    t.content_summary(d))
        if kind in WRITES:
            d = self._dir(rng)
            seq = self._next_seq()
            path = os.path.join(self.log_dir, f"b{seq:06d}")
            if kind == "subtree_delete":
                build = lambda sp: ms.subtree_delete(  # noqa: E731
                    inodes, t.dir_path[d])[1]
                members, nbytes = t.subtree_size(d)
            else:
                build = lambda sp: ms.subtree_rename(  # noqa: E731
                    inodes, t.dir_path[d], f"archive/r{seq}")[1]
                members, nbytes = t.subtree_size(d)[0], 0
            return build, lambda df: self._commit(df, path), \
                (path, members, nbytes)
        raise ValueError(kind)

    def _commit(self, log, path: str) -> str:
        """Append the log batch, then fold it into the quota state."""
        from hops_spark.catalog import metastore as ms
        with self.tracer.span("log_append", "catalog"):
            log.write.parquet(path)
        batch = self.spark.read.schema(ms.METADATA_LOG_SCHEMA).parquet(path)
        with self._fold_lock:
            self.quota.apply_batch(batch)
        return path

    def run_request(self, kind: str, rng: random.Random, rid: str) -> Result:
        build, execute, expected = self.make_request(kind, rng)
        if self.status is not None:
            self.tracer.set_request(rid)
            self.status.begin(rid)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, "request"):
                df = build(self.spark)
                self.build_s[rid] = time.perf_counter() - t0
                if self.status is not None:
                    self.eager_jobs[rid] = self.status.eager_jobs(rid)
                got = execute(df)
            res = Result(kind, time.perf_counter() - t0, rid, got=got,
                         expected=expected,
                         rows=len(got) if isinstance(got, (list, dict)) else 1)
        except Exception as e:  # noqa: BLE001 — counted as failed
            res = Result(kind, time.perf_counter() - t0, rid,
                         error=error_text(e))
        if self.status is not None:
            self.jobstats[rid] = self.status.jobs(rid)
            self.status.end()
            self.tracer.set_request(None)
        return res

    # -- closed loop ----------------------------------------------------------
    @staticmethod
    def client_kinds(rng: random.Random):
        while True:
            deck = list(DECK)
            rng.shuffle(deck)
            yield from deck

    def run_clients(self, clients: int, seconds: float, tag: str,
                    warm: bool = False) -> dict:
        """Run ``clients`` closed-loop client threads.

        Warm-up (``warm``): every request kind once, dealt round-robin
        over the clients, then requests until ``seconds`` have passed.

        Timed: each client works through whole decks and every deck it
        starts within ``seconds`` is timed, so each client's timed
        requests have exactly the deck's mix. A client whose timed decks
        are done keeps sending untimed padding requests until every
        client is done, so the load stays the same for every timed
        request. Returns ``timed``, ``padding`` (result lists), ``wall``
        (seconds until the last timed request) and ``spans``: per client,
        its timed results and the seconds they took."""
        timed: list[list[Result]] = [[] for _ in range(clients)]
        padding: list[list[Result]] = [[] for _ in range(clients)]
        span = [0.0] * clients
        errors: list[BaseException] = []
        finished = [0]
        lock = threading.Lock()
        all_done = threading.Event()
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def request(c: int, kind: str, rng, out: list):
            out.append(self.run_request(kind, rng,
                                        f"{tag}-{c}-{len(timed[c]) + len(padding[c])}"))

        def client(c: int):
            rng = random.Random(f"{self.seed}:{tag}:{c}")
            try:
                if warm:
                    for kind in KINDS[c::clients]:
                        request(c, kind, rng, timed[c])
                    for kind in self.client_kinds(rng):
                        if time.perf_counter() >= deadline:
                            break
                        request(c, kind, rng, timed[c])
                    return
                kinds = self.client_kinds(rng)
                while (len(timed[c]) < MIN_DECKS * len(DECK)
                       or time.perf_counter() < deadline):
                    for _ in range(len(DECK)):
                        request(c, next(kinds), rng, timed[c])
                span[c] = time.perf_counter() - t0
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
            finally:
                if not warm:
                    with lock:
                        finished[0] += 1
                        if finished[0] == clients:
                            all_done.set()
            try:
                while not all_done.is_set():
                    request(c, next(kinds), rng, padding[c])
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        threads = [threading.Thread(target=client, args=(c,), daemon=True)
                   for c in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=seconds + 300)
            if th.is_alive():
                raise RuntimeError(f"meta_ops client did not finish: {tag}")
        if errors:
            raise errors[0]
        return {
            "timed": [r for rs in timed for r in rs],
            "padding": [r for rs in padding for r in rs],
            "wall": max(span) if not warm else time.perf_counter() - t0,
            "spans": list(zip(timed, span)),
        }

    # -- checks -------------------------------------------------------------
    def check(self, results: list[Result], wrong: str | None = None) -> list[str]:
        """Check every result in place; returns run-level problems (the
        quota fold). ``wrong`` names a request kind whose expected answer
        is deliberately falsified (self-test only)."""
        from pyspark.sql import functions as F

        from hops_spark.catalog import cdc
        from hops_spark.catalog import metastore as ms
        writes = [r for r in results if r.error is None and r.kind in WRITES]
        batches = sorted(os.path.join(self.log_dir, b)
                         for b in os.listdir(self.log_dir))
        logs = {}
        if writes:
            full = (self.spark.read.schema(ms.METADATA_LOG_SCHEMA)
                    .parquet(*batches))
            per = (full.withColumn("_f", F.input_file_name())
                   .groupBy("_f").agg(F.count("*"), F.sum("size_delta"))
                   .collect())
            for f, n, s in per:
                d = os.path.basename(os.path.dirname(f.replace("file:", "")))
                prev = logs.get(d, (0, 0))
                logs[d] = (prev[0] + n, prev[1] + int(s or 0))
        for r in results:
            if r.error is not None:
                continue
            exp = r.expected
            if r.kind == wrong:
                exp = ("wrong",)
            if r.kind in WRITES:
                path, members, nbytes = exp if len(exp) == 3 else ("", -1, -1)
                got = logs.get(os.path.basename(path), (0, 0))
                if got != (members, nbytes):
                    r.problems = [f"log rows/bytes {got} != {(members, nbytes)}"]
            elif r.got != exp:
                r.problems = [f"{r.kind}: answer differs from closed form"]
        run_problems = []
        if writes:
            inc = {r[0]: (r[1], r[2]) for r in self.quota.snapshot().collect()}
            ref = {r[0]: (r[1], r[2])
                   for r in cdc.quota_from_scratch(full).collect()}
            if inc != ref:
                run_problems.append(
                    f"quota state differs from quota_from_scratch "
                    f"({len(inc)} vs {len(ref)} directories)")
        return run_problems
