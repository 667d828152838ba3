"""The workloads: catalog queries and NCA ingest.

A workload is a sequence of operations grouped into passes. ``prepare``
makes the inputs from the seed (not timed, not part of set-up);
``warmup`` runs untimed after the session starts; ``more`` says whether
another timed pass follows; ``pass_ops`` gives the operations of one timed
pass; ``finish`` checks what the warm-up and the passes produced and
returns the failures it found. No check runs before ``finish``, so none is
inside the set-up time, a timed pass or the memory high-water mark.

Each operation records its layer spans on ``ctx.tracer`` and, when
tracing, tags its jobs with job groups so their counts can be read back.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import Counter
from urllib.parse import urlparse

import pyarrow.parquet as pq

import check
import ncagen
import tables
from spans import ProgressListener

# The queries of ``catalog_sf0.01``: a fixed cross-section of the 66
# bench-tagged queries: a relational join, exact ANN, exact quantiles with
# eager driver jobs, MinHash LSH (among the slowest bench queries) and the
# hand-rolled range join. Five leave room for two warm-up passes and three
# timed passes per run; an odd count keeps the median op on one query
# rather than between two of different cost. The NCA cleaner is measured by
# ``nca_ingest``.
CATALOG = (
    "revenue_by_nation",
    "ann_cosine_topk",
    "order_value_quartile_bands",
    "minhash_lsh_pairs",
    "purchase_window_click_join",
)
# Untimed passes before timing. The first takes the cold start (JVM code
# loading, Python workers). Catalog passes keep getting faster for three
# more passes (after two warm-up passes the timed ones took 5.8, 4.8, 4.2
# and 4.1 s), and the publication after the first runs up to 25% slower
# than the next ones; but every further warm-up pass costs a tenth of a run
# that must stay near a minute, so the medians carry that drift.
CATALOG_WARMUP = 2
INGEST_WARMUP = 1
# The timed publications are a fixed number per ``--seconds``, whatever the
# engine's speed, so that every build loads the same inputs into a store of
# the same size: one per NOMINAL_OP_S seconds, at least MIN_TIMED.
NOMINAL_OP_S = 6.0
MIN_TIMED = 2


class Ctx:
    """What an operation needs besides its inputs. ``probe`` is set only
    during the traced pass; ``extra_jobs`` collects jobs an operation caused
    outside its own job groups, and ``first_execution`` is the first SQL
    execution of the operation."""

    def __init__(self, spark, tracer, probe) -> None:
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.op_id = 0
        self.extra_jobs: list[int] = []
        self.first_execution = 0

    def group(self, phase: str | None) -> None:
        """Tag the jobs that follow as ``<phase>:<op id>`` (tracing only)."""
        if self.probe is not None:
            self.probe.group(None if phase is None else f"{phase}:{self.op_id}")


class QueryWorkload:
    """Catalog queries run closed-loop, one at a time, in an order the seed
    permutes anew for every pass, each collected to the driver."""

    def __init__(self, names: tuple[str, ...]) -> None:
        from dbm_nca_ph_etl_spark.plans.queries import QUERIES

        self.queries = [QUERIES[n] for n in names]
        self.problems: dict[str, str] = {}  # query -> first problem seen
        self.warm: list[tuple] = []  # (query, columns, rows)
        self.results: list[tuple] = []  # (op id, query, columns, rows)

    def prepare(self, work: str, seed: int, seconds: float) -> dict:
        self.rng = random.Random(seed)
        self.sf_dir = tables.BASE
        self.work = work
        return {"sf_dir": os.path.relpath(self.sf_dir), "tables": tables.stats()}

    def _run(self, ctx: Ctx, q):
        ctx.group("c")
        with ctx.tracer.span("plans.construct"):
            df = q.fn(ctx.spark, self.sf_dir)
        ctx.group("x")
        with ctx.tracer.span("operators.exec"):
            rows = df.collect()
        ctx.group(None)
        return df, rows

    def _check(self, db, q, cols: list[str], rows) -> bool:
        """True when the result matches; else records the problem."""
        if q.oracle is None:
            problem = None if rows else "no rows and no oracle"
        else:
            problem = check.compare(cols, rows, db, q.oracle)
        if problem:
            self.problems.setdefault(q.name, problem)
        return problem is None

    def warmup(self, ctx: Ctx) -> None:
        """Untimed passes whose results are checked like the timed ones."""
        for _ in range(CATALOG_WARMUP):
            for q in self.queries:
                try:
                    df, rows = self._run(ctx, q)
                    self.warm.append((q, df.columns, rows))
                except Exception as exc:  # noqa: BLE001 - makes the run incorrect
                    self.problems.setdefault(q.name, f"warm-up raised {exc!r}"[:300])

    def more(self, elapsed: float, seconds: float) -> bool:
        return elapsed < seconds

    def pass_ops(self, k: int):
        order = list(self.queries)
        self.rng.shuffle(order)
        for q in order:
            yield q.name, (lambda ctx, q=q: self._op(ctx, q))

    def _op(self, ctx: Ctx, q) -> None:
        df, rows = self._run(ctx, q)
        self.results.append((ctx.op_id, q, df.columns, rows))

    def pages(self, label: str) -> int:
        return 0

    def stop(self) -> None:
        pass

    def finish(self, ctx: Ctx) -> dict:
        db = check.oracle_db(self.work)
        for q, cols, rows in self.warm:
            self._check(db, q, cols, rows)
        failed = {op for op, q, cols, rows in self.results if not self._check(db, q, cols, rows)}
        db.close()
        self.warm.clear()
        self.results.clear()
        return {"failed": failed, "problems": self.problems}


class IngestWorkload:
    """Seeded NCA release PDFs through extraction, header promotion and one
    inbox file per publication; a running ``run_nca_pipeline`` query loads
    each into an ``NCAStore``, one publication per micro-batch. An
    operation is one publication, from PDF on disk to rows committed."""

    def prepare(self, work: str, seed: int, seconds: float) -> dict:
        self.work = work
        timed = max(MIN_TIMED, math.ceil(seconds / NOMINAL_OP_S))
        self.pubs = ncagen.publications(seed, INGEST_WARMUP + timed)
        self.pdf_dir = os.path.join(work, "pdf")
        self.inbox = os.path.join(work, "inbox")
        self.stage = os.path.join(work, "stage")
        for d in (self.pdf_dir, self.inbox, self.stage):
            os.makedirs(d)
        self.paths = []
        for p in self.pubs:
            path = os.path.join(self.pdf_dir, f"{p.release_id}-v{p.version}.pdf")
            with open(path, "wb") as fh:
                fh.write(p.pdf)
            self.paths.append(path)
        self.next = 0
        self.dropped = 0  # inbox files written
        self.op_of: dict[int, int] = {}  # publication index -> op id
        return {
            "publications_generated": len(self.pubs),
            "publications_timed": timed,
            "pages_per_publication": sorted({p.n_pages for p in self.pubs}),
            "rows_per_publication": round(sum(len(p.rows) for p in self.pubs) / len(self.pubs), 1),
            "pattern_coverage": ncagen.coverage(self.pubs),
        }

    def start(self, ctx: Ctx) -> None:
        from dbm_nca_ph_etl_spark.sinks.merge import NCAStore
        from dbm_nca_ph_etl_spark.sources.pdf_source import get_parser
        from dbm_nca_ph_etl_spark.streaming.nca_stream import run_nca_pipeline

        class TimedStore(NCAStore):
            """Times the inherited ``load_batch``. The time includes running
            the cleaner's plan, which the store's actions execute lazily."""

            def load_batch(self, records, allocations):
                probe = ctx.probe
                group = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                before = set(probe.jobs(group)) if probe and group else None
                with ctx.tracer.span("sinks.load_batch"):
                    super().load_batch(records, allocations)
                if before is not None:
                    ctx.tracer.add("sinks.load_jobs", len(set(probe.jobs(group)) - before))

        self.parser = get_parser("minipdf")
        self.progress = ProgressListener()
        ctx.spark.streams.addListener(self.progress)
        self.store = TimedStore(ctx.spark, os.path.join(self.work, "store"))
        self.query = run_nca_pipeline(
            ctx.spark, self.inbox, self.store, os.path.join(self.work, "checkpoint"),
            available_now=False, max_files_per_trigger=1,
        )

    def warmup(self, ctx: Ctx) -> None:
        self.start(ctx)
        for _ in range(INGEST_WARMUP):
            i = self.next
            self.next += 1
            self._op(ctx, i)

    def more(self, elapsed: float, seconds: float) -> bool:
        return self.next < len(self.pubs)

    def pass_ops(self, k: int):
        i = self.next
        self.next += 1
        yield f"publication-{i}", (lambda ctx: self._op(ctx, i))

    def _op(self, ctx: Ctx, i: int) -> None:
        from dbm_nca_ph_etl_spark.nca.cleaner import promote_header
        from dbm_nca_ph_etl_spark.sources.pdf_source import extract_raw_cells_from_paths

        pub = self.pubs[i]
        spark = ctx.spark
        self.op_of[i] = ctx.op_id
        ctx.group("x")
        try:
            with ctx.tracer.span("sources.extract"):
                files = spark.createDataFrame(
                    [(pub.release_id, self.paths[i])], "release_id string, path string"
                )
                cells = extract_raw_cells_from_paths(files, self.parser)
                with ctx.tracer.span("nca.promote_header"):
                    raw = promote_header(cells)
                out = os.path.join(self.stage, str(i))
                raw.coalesce(1).write.parquet(out)
            part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
            dropped = os.path.join(self.inbox, f"pub-{i:05d}.parquet")
            os.rename(os.path.join(out, part), dropped)
            self.dropped += 1
            probe = ctx.probe
            if probe is not None:
                group = str(self.query.runId)
                jobs0 = set(probe.jobs(group))
                files0 = _files(self.store.base)
            with ctx.tracer.span("streaming.run_nca_pipeline"):
                self.query.processAllAvailable()
            if probe is not None:
                ctx.extra_jobs = sorted(set(probe.jobs(group)) - jobs0)
                files = _files(self.store.base)
                tr = ctx.tracer
                tr.add("sinks.bytes_written", sum(n for f, n in files.items() if f not in files0))
                tr.add("sources.pages", pub.n_pages)
                tr.add("sources.cell_rows", pq.read_metadata(dropped).num_rows)
                # one micro-batch per inbox file; its progress event may
                # arrive after processAllAvailable returns
                self.progress.wait_for(self.dropped)
                d = self.progress.batches[self.dropped - 1]
                tr.add("streaming.batches")
                tr.add("streaming.batch_ms", d.get("triggerExecution", 0))
                tr.add("streaming.overhead_ms",
                       d.get("triggerExecution", 0) - d.get("addBatch", 0))
        finally:
            ctx.group(None)

    def pages(self, label: str) -> int:
        return self.pubs[int(label.split("-")[1])].n_pages

    def stop(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query = None

    def finish(self, ctx: Ctx) -> dict:
        """Stop the stream, then compare the store with the generator's
        truth for every publication loaded, warm-up ones included."""
        self.stop()
        problems: dict[str, str] = {}
        loaded = [self.pubs[i] for i in sorted(self.op_of)]
        want_rec, want_alloc = ncagen.store_truth(loaded)
        t0 = time.perf_counter()
        got_rec = self.store.read("record").collect()
        got_alloc = self.store.read("allocation").collect()
        readback_ms = (time.perf_counter() - t0) * 1000

        def rows(dicts, cols):
            return Counter(tuple(d[c] for c in cols) for d in dicts)

        rc = ["nca_number", "nca_type", "released_date", "department", "purpose", "release_id"]
        ac = ["nca_number", "agency", "operating_unit", "amount", "release_id"]
        bad_releases: set[str] = set()
        for label, got, want, cols in (
            ("record", got_rec, want_rec, rc),
            ("allocation", got_alloc, want_alloc, ac),
        ):
            g = rows([r.asDict() for r in got], cols)
            w = rows(want, cols)
            if g != w:
                diff = (g - w) + (w - g)
                bad_releases |= {t[-1] for t in diff}
                problems[label] = (
                    f"{sum(g.values())} rows vs {sum(w.values())} expected; "
                    f"{sum(diff.values())} differ"
                )
        dlq = os.path.join(self.store.base, "dlq")
        dlq_rows = 0
        if os.path.exists(dlq):
            d = ctx.spark.read.parquet(dlq)
            dlq_rows = d.count()
            bad_releases |= {r[0] for r in d.select("release_id").distinct().collect()}
            problems["dlq"] = f"{dlq_rows} rows dead-lettered"
        live = {t: self.store.read(t).inputFiles() for t in ("record", "allocation")}
        live_bytes = sum(
            os.path.getsize(urlparse(f).path) for fs in live.values() for f in fs
        )
        latest = {p.release_id: p for p in loaded}
        return {
            "failed": {
                op for i, op in self.op_of.items() if self.pubs[i].release_id in bad_releases
            },
            "problems": problems,
            "layers": {
                "sinks.readback_ms": readback_ms,
                "sinks.files_live": sum(len(fs) for fs in live.values()),
                "sinks.store_bytes_per_input_byte": live_bytes
                / sum(p.raw_bytes() for p in latest.values()),
                "nca.dlq_rows": dlq_rows,
                "nca.records": len(got_rec),
                "nca.allocations": len(got_alloc),
            },
            "bases": {
                "sinks.store_bytes_per_input_byte": f"{live_bytes} live store bytes / "
                f"{sum(p.raw_bytes() for p in latest.values())} raw-row bytes of "
                f"{len(latest)} releases",
            },
        }


def _files(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(root)
        for f in names
    }


WORKLOADS = {
    "catalog_sf0.01": lambda: QueryWorkload(CATALOG),
    "nca_ingest": IngestWorkload,
}
