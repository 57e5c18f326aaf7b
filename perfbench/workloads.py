"""The benchmark's workloads and their output checks.

Each workload class has ``setup`` (inputs from the seed, repeated by the
runner so set-up time has a median), ``warm`` (first executions, so
JIT and codegen are not billed to measured operations), ``measure``
(operations until the deadline) and ``check`` (output checks, outside
every timed region). Operations record their latency; a failed
operation or failed check counts in ``failed``.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import threading
import time


import datagen

# Frozen query list of batch_sf0.01, each query with a DuckDB oracle: a
# TPC-H join/aggregate (q3), an Arrow Python-worker query (blake2
# digests) and IVF top-k serving over frozen centroids (ivf_fixed_topk,
# ~1,150 py4j round trips per plan build). The list is short because
# every run starts a fresh JVM: query times keep falling for about five
# passes while it compiles, and all of them must fit a run. The tree
# reindex (descendants_tree, ~2 s a pass) was dropped for that reason;
# staging is exercised by stream_dedup's store pruning.
BATCH_QUERIES = [
    "q3_shipping_priority",
    "blake2_lookalike_nation",
    "ivf_cosine_topk",
]


class Op:
    """One measured operation: latency in seconds and whether it failed."""

    __slots__ = ("name", "seconds", "ok")

    def __init__(self, name: str, seconds: float, ok: bool):
        self.name, self.seconds, self.ok = name, seconds, ok


class Workload:
    scale = 0.1
    tables = datagen.TABLES

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.ops: list[Op] = []
        self.errors: list[str] = []  # why operations failed
        self.check_failures: list[str] = []
        self.catalyst: dict[str, float] = {}
        self.fixture = ""

    def setup(self, rep: int) -> None:
        self.fixture = datagen.write(
            os.path.join(self.work, f"fixture{rep}"), self.scale, self.seed, self.tables
        )

    def _catalyst(self, df) -> None:
        """Traced runs only: planning-tracker phase times of ``df``."""
        if not self.tracer.enabled:
            return
        from spans import catalyst_phases

        with self.tracer.span("catalyst", "catalyst"):
            for k, v in catalyst_phases(df).items():
                self.catalyst[k] = self.catalyst.get(k, 0.0) + v

    def smoke(self) -> None:
        """Tiny inputs for the benchmark's own tests."""
        self.scale = 0.001

    def units(self) -> int:
        """Operations the per-layer sums are divided by."""
        return len(self.ops)

    def progress(self) -> list:
        return []

    def backlog_max(self) -> int:
        return 0

    def store_files(self) -> tuple[float, int]:
        return 0.0, 0

    def extra(self) -> dict:
        return {}


# -- batch ----------------------------------------------------------------


# ROUND(SUM(double), 2) can land on either side of a rounding boundary
# depending on summation order, which differs between Spark and DuckDB
# (the hazard tests/oracle_harness.FLOAT_TOL covers for its queries):
# allow a flip of the last rounded digit, with FLOAT_TOL's margin of two
# units. Seen on q3's revenue for 1 of 10 generated fixtures (410441.58
# vs 410441.59).
ROUNDED_SUM_TOL = {"q3_shipping_priority": {"revenue": 0.02}}


class _Collected:
    """Hands ``oracle_harness.compare`` rows already collected."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class Batch(Workload):
    """Seed-shuffled passes over BATCH_QUERIES into the ``noop`` sink."""

    scale = 0.01
    warm_passes = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.order = list(BATCH_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        self.passes: list[float] = []
        self.collected = {}

    def smoke(self) -> None:
        super().smoke()
        self.warm_passes = 0

    def warm(self) -> None:
        # the first execution of each query collects its rows (they are
        # what check() compares); then warm_passes passes into noop, as
        # the JVM keeps compiling: pass times fall ~30% over the first
        # five passes, then level off
        from pulsar_internal_spark.plans.queries import QUERIES
        from pulsar_internal_spark.staging import release_staged

        for name in self.order:
            try:
                self.collected[name] = QUERIES[name](self.spark, self.fixture).toPandas()
            except Exception as e:  # recorded as a failed check
                self.check_failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            release_staged(self.spark)
        for _ in range(self.warm_passes):
            self._pass([])

    def _pass(self, ops: list) -> None:
        from pulsar_internal_spark.plans.queries import QUERIES
        from pulsar_internal_spark.staging import release_staged

        for name in self.order:
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tracer.span(f"plans:{name}", "build"):
                    df = QUERIES[name](self.spark, self.fixture)
                self._catalyst(df)
                with self.tracer.span("exec", "exec"):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as e:
                ok = False
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            ops.append(Op(name, time.perf_counter() - t0, ok))
            release_staged(self.spark)

    def measure(self, deadline: float) -> None:
        # whole passes only, and none that would end well past the deadline
        while not self.passes or (
            time.perf_counter() + statistics.mean(self.passes) / 2 < deadline
        ):
            p0 = time.perf_counter()
            self._pass(self.ops)
            self.passes.append(time.perf_counter() - p0)

    def check(self) -> None:
        from pulsar_internal_spark.plans.queries import oracle_sql
        from tests.oracle_harness import FLOAT_TOL, compare, run_oracle

        sqls = oracle_sql()
        for name, pdf in self.collected.items():
            tol = FLOAT_TOL.get(name) or ROUNDED_SUM_TOL.get(name)
            problems = compare(_Collected(pdf), run_oracle(sqls[name], self.fixture), tol)
            if problems:
                self.check_failures.append(f"{name}: {problems[:3]}")

    def per_query(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for o in self.ops:
            out.setdefault(o.name, []).append(o.seconds)
        return out

    def latency(self) -> float:
        """Geometric mean over the queries of each query's median."""
        meds = [statistics.median(v) for v in self.per_query().values()]
        return math.exp(statistics.mean(math.log(m) for m in meds))

    def tail(self) -> float:
        """Geometric mean over the queries of each query's slowest run."""
        worst = [max(v) for v in self.per_query().values()]
        return math.exp(statistics.mean(math.log(m) for m in worst))

    def rate(self) -> float:
        """Queries per second of a pass run at every query's median."""
        return len(self.order) / sum(statistics.median(v) for v in self.per_query().values())

    def extra(self) -> dict:
        return {"query_order": self.order, "passes_s": self.passes}


# -- streaming dedup --------------------------------------------------------

def pair_problems(got: set, want: set) -> list[str]:
    """The sink's candidate pairs must equal the batch operator's."""
    if got == want:
        return []
    return [f"candidate pairs: {len(want - got)} missing, {len(got - want)} extra"]


class Stream(Workload):
    """Seed-shuffled documents dropped as JSON files: backlogs dropped at
    once (burst phase), then files from a generator thread on a fixed
    schedule (open-loop steady phase). The engine's streaming MinHash
    dedup consumes them on its default trigger with the bucketed
    catalog store."""

    tables = ("documents",)
    steady_interval_s = 5.0
    file_docs = 200
    burst_files = 5
    bursts = 3
    warm_files = 2

    def smoke(self) -> None:
        super().smoke()
        self.file_docs, self.burst_files, self.warm_files = 50, 2, 1

    def setup(self, rep: int) -> None:
        super().setup(rep)
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.fixture, "documents.parquet"))
        docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        random.Random(self.seed).shuffle(docs)
        self.chunks = [docs[i:i + self.file_docs] for i in range(0, len(docs), self.file_docs)]
        base = os.path.join(self.work, f"stream{rep}")
        shutil.rmtree(base, ignore_errors=True)
        self.inbox = os.path.join(base, "inbox")
        self.staging_dir = os.path.join(base, "outbox")
        self.ckpt = os.path.join(base, "ckpt")
        self.cands = os.path.join(base, "cands")
        os.makedirs(self.inbox)
        os.makedirs(self.staging_dir)
        self.table = f"perfbench_sig_{rep}"
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        self.files: list[dict] = []  # name, due, written, docs, phase
        self.next_chunk = 0
        self.gen_late: list[float] = []

    def _drop(self, due: float, phase: str, n_files: int = 1) -> None:
        """Write ``n_files`` files into a fresh directory, then rename the
        directory into the inbox: all of them become visible at once."""
        drop = f"drop-{len(self.files):05d}"
        src = os.path.join(self.staging_dir, drop)
        os.makedirs(src)
        names = []
        for _ in range(n_files):
            chunk = self.chunks[self.next_chunk]
            name = f"part-{self.next_chunk:05d}.json"
            self.next_chunk += 1
            with open(os.path.join(src, name), "w") as f:
                for doc_id, text in chunk:
                    f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
            names.append((name, len(chunk)))
        os.rename(src, os.path.join(self.inbox, drop))
        written = time.time()
        for name, n in names:
            self.files.append({"name": name, "due": due, "written": written,
                               "docs": n, "phase": phase, "drop": drop})

    def _commits(self) -> dict[int, float]:
        d = os.path.join(self.ckpt, "commits")
        if not os.path.isdir(d):
            return {}
        return {int(f): os.stat(os.path.join(d, f)).st_mtime
                for f in os.listdir(d) if f.isdigit()}

    def _batch_files(self, batch: int) -> list[str]:
        # every tenth batch's source log is a ".compact" file that also
        # lists the earlier batches' files; each entry names its batch
        p = os.path.join(self.ckpt, "sources", "0", str(batch))
        if not os.path.exists(p):
            p += ".compact"
        names = []
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    if entry["batchId"] == batch:
                        names.append(os.path.basename(entry["path"]))
        return names

    def _wait_committed(self, name: str, timeout: float) -> None:
        end = time.time() + timeout
        while time.time() < end:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            for b in sorted(self._commits()):
                if name in self._batch_files(b):
                    return
            time.sleep(0.05)
        raise TimeoutError(f"{name} not committed within {timeout}s")

    def warm(self) -> None:
        from pulsar_internal_spark.operators import signature_store as S

        stream = (
            self.spark.readStream.schema("doc_id BIGINT, text STRING")
            .json(os.path.join(self.inbox, "*"))
        )
        self.query = S.streaming_minhash_dedup(
            stream, None, self.cands, self.ckpt, store_table=self.table
        )
        for _ in range(self.warm_files):
            self._drop(time.time(), "warm")
            self._wait_committed(self.files[-1]["name"], 120)

    def measure(self, deadline: float) -> None:
        self.first_batch = max(self._commits()) + 1
        n_steady = max(2, math.ceil((deadline - time.perf_counter()) / self.steady_interval_s))
        if self.next_chunk + n_steady + self.bursts * self.burst_files > len(self.chunks):
            raise ValueError(f"{n_steady} steady files do not fit the generated documents; "
                             "run for fewer seconds")
        self._store_base = self._store_totals()
        # bursts first: a backlog dropped at once, drained before the
        # next. They also carry the JVM further through its warm-up
        # before the steady phase, whose lags fall while it compiles.
        for _ in range(self.bursts):
            self._drop(time.time(), "burst", self.burst_files)
            self._wait_committed(self.files[-1]["name"], 120)
        t0 = time.time()

        def generator():
            for i in range(n_steady):
                due = t0 + i * self.steady_interval_s
                time.sleep(max(0.0, due - time.time()))
                self._drop(due, "steady")

        g = threading.Thread(target=generator, daemon=True)
        g.start()
        g.join(n_steady * self.steady_interval_s + 60)
        self._wait_committed(self.files[-1]["name"], 120)
        self.query.stop()
        self._analyse()

    def _analyse(self) -> None:
        by_name = {f["name"]: f for f in self.files}
        commits = self._commits()
        self.batches = []  # (batch, commit time, files)
        for b in sorted(commits):
            names = self._batch_files(b)
            self.batches.append((b, commits[b], [by_name[n] for n in names if n in by_name]))
        committed = {}  # file name -> commit time of its batch
        for b, ct, fs in self.batches:
            if fs and {f["phase"] for f in fs} == {"steady"}:
                self.ops.append(Op(f"batch{b}", ct - max(f["due"] for f in fs), True))
            committed.update((f["name"], ct) for f in fs)
        self.gen_late = [f["written"] - f["due"] for f in self.files if f["phase"] == "steady"]
        # per burst: its docs over the time from its drop to the commit
        # of the batch holding its last file
        drops: dict[str, list[dict]] = {}
        for f in self.files:
            if f["phase"] == "burst":
                drops.setdefault(f["drop"], []).append(f)
        self.burst_s = [committed[fs[-1]["name"]] - fs[-1]["due"] for fs in drops.values()]
        self.drains = [sum(f["docs"] for f in fs) / t for fs, t in zip(drops.values(), self.burst_s)]

    def check(self) -> None:
        from pulsar_internal_spark.operators import dedup as D
        from pulsar_internal_spark.operators import signature_store as S

        got = {
            (r.id_a, r.id_b)
            for r in S.read_candidates_sink(self.spark, self.cands).select("id_a", "id_b").collect()
        }
        delivered = [d for i in range(self.next_chunk) for d in self.chunks[i]]
        docs = self.spark.createDataFrame(delivered, "doc_id BIGINT, text STRING")
        want = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs).collect()}
        self.check_failures.extend(pair_problems(got, want))

    def latency(self) -> float:
        return statistics.median(o.seconds for o in self.ops)

    def tail(self) -> float:
        """The slowest steady-phase lag."""
        return max(o.seconds for o in self.ops)

    def rate(self) -> float:
        return statistics.median(self.drains)

    def extra(self) -> dict:
        late = sorted(self.gen_late)
        return {
            "generator_late_p50_s": late[len(late) // 2] if late else None,
            "generator_late_max_s": late[-1] if late else None,
            "burst_commit_s": self.burst_s,
            "files": len(self.files),
            "micro_batches": len(self.batches),
            "lags_s": [o.seconds for o in self.ops],
        }

    def units(self) -> int:
        return sum(1 for _, _, fs in self.batches if fs and fs[0]["phase"] != "warm")

    def progress(self) -> list:
        return [p for p in self.query.recentProgress if p.batchId >= self.first_batch]

    def backlog_max(self) -> int:
        """Most files dropped but not yet committed, seen at any commit."""
        done: set[str] = set()
        worst = 0
        for _, ct, fs in self.batches:
            waiting = [f for f in self.files if f["written"] <= ct and f["name"] not in done]
            worst = max(worst, len(waiting))
            done.update(f["name"] for f in fs)
        return worst

    def store_files(self) -> tuple[float, int]:
        """Bytes and data files the store table and the sink gained
        while measured."""
        size, n = self._store_totals()
        return size - self._store_base[0], n - self._store_base[1]

    def _store_totals(self) -> tuple[float, int]:
        loc = os.path.join(self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
                           self.table)
        size = n = 0
        for top in (loc, self.cands):
            for d, _, files in os.walk(top):
                for f in files:
                    if not f.startswith((".", "_")):
                        size += os.path.getsize(os.path.join(d, f))
                        n += 1
        return size / 2**20, n


WORKLOADS = {"batch_sf0.01": Batch, "stream_dedup": Stream}
