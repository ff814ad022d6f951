"""The benchmark's workloads, run from one closed-loop client thread.

Each workload prepares seeded inputs (untimed, cached on disk), sets up a
session sized to this host, times its operation in a loop for the run's
seconds, checks every result outside the timed regions, and stops the
session and every process it started.

Each operation returns its two timed parts (``metrics.PARTS``).

- ``query_batch``: one operation is a 100-query batch through
  ``wand_topk_sharded(algo="auto")`` (part 1) and through the M1
  ``topk_search`` path (part 2), both collected, against an index built
  during set-up by
  ``resumable_build`` → ``finalize_lite`` → ``encode_shards_from_postings``.
  A traced run also rebuilds the index in a warm session, for the
  per-layer figures of the build layers.
- ``entry_suite``: one operation is a pass over a fixed list of
  ``__spark_entry__.queries()`` entries on seeded entry tables, each
  result collected: the BM25 entries (part 1), then the ``ops/`` entries
  (part 2).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import tempfile
import time

from . import checks, host, inputs, metrics, spans

QUERY_CONVERSATIONS = 600
# the corpus is the same for every seed, which picks the query batches:
# it is made once per checkout, and every run's set-up builds the same
# index
CORPUS_SEED = 0
BATCH_QUERIES = 100
WARMUP_BATCHES = 1
# the median of five batches: with three, one slow batch in a run moved
# the M1 figure by up to a quarter in a quiet window
MIN_BATCHES = 5
ORACLE_SAMPLE = 5
SINGLE_QUERIES = 5
QUERY_BATCHES = 8
ENTRY_DOCS = 500
ENTRY_VECS = 500

LAYER = {
    "build": "index.manifest.resumable_build",
    "finalize": "index.manifest.finalize_lite",
    "encode": "index.blocks.encode_shards_from_postings",
    "analyze": "query.dataframe_bm25.analyze_query_terms",
    "wand": "query.wand.wand_topk_sharded",
    "m1": "query.dataframe_bm25.topk_search",
}
INDEX_ARTIFACTS = ("postings", "term_partials", "terms", "base", "blocks")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """State of one benchmark invocation; workloads read and fill it."""

    def __init__(self, root: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cache = os.path.join(root, ".perfbench", "cache")
        self.work = os.path.join(root, ".perfbench", "work", str(os.getpid()))
        self.tally = checks.Tally()
        self.values: dict[str, float] = {}
        self.tracer = spans.Tracer(False)
        self.spark = None
        self.nproc = host.nproc()

    # ----------------------------------------------------------- session

    def start_session(self) -> float:
        """Start Spark sized to this host; → seconds it took."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        events = os.path.join(self.work, "eventlog")
        for d in (tmp, local, events):
            os.makedirs(d, exist_ok=True)
        # the JVM and its Python workers inherit these: scratch files stay
        # inside the checkout, and workers import the engine from it
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # the gateway launch makes its own temp dir
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        conf = {
            "spark.driver.memory": f"{max(1, min(4, int(ram_gb // 4)))}g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + events
            # one plain JSON-lines file, read back after the session stops
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        from ir_base_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=self.nproc,
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        dt = time.perf_counter() - t0
        self.tracer = spans.Tracer(self.trace, self.spark.sparkContext)
        return dt

    @property
    def jvm_pid(self) -> int:
        """The gateway JVM; Spark's Python workers run under it."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for every process under it."""
        from pyspark import SparkContext

        kids = [self.jvm_pid, *host.descendants(self.jvm_pid)]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - last resort below
                    proc.kill()
                    proc.wait(timeout=30)
        _wait_gone(kids, timeout_s=60)

    # ----------------------------------------------------------- events

    def layer_stats(self):
        if not self.trace:
            return {}
        events = spans.read_event_log(os.path.join(self.work, "eventlog"))
        return spans.attribute_jobs(self.tracer, events)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    import signal

    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


# ------------------------------------------------------------ index build


def build_index(run: Run, transcripts_path: str, index_root: str) -> dict:
    """One fresh-root build, each layer call in its own span;
    → the layers' own reports and wall times."""
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build

    spark, tr = run.spark, run.tracer
    out: dict = {}
    shutil.rmtree(index_root, ignore_errors=True)
    t0 = time.perf_counter()
    with tr.span(LAYER["build"]):
        df = spark.read.parquet(transcripts_path)
        out["report"] = resumable_build(
            spark, df, index_root, num_partitions=run.nproc, wave_size=run.nproc
        )
    t1 = time.perf_counter()
    with tr.span(LAYER["finalize"]):
        out["index"], _ = finalize_lite(spark, index_root)
    t2 = time.perf_counter()
    with tr.span(LAYER["encode"]):
        out["encode"] = encode_shards_from_postings(spark, index_root)
    t3 = time.perf_counter()
    out["wall"] = {"build": t1 - t0, "finalize": t2 - t1, "encode": t3 - t2}
    return out


def index_layer_values(b: dict, index_root: str, text_bytes: int) -> dict:
    """Per-layer figures of the build layers from one build's own reports
    and the on-disk artifacts of ``index_root``."""
    v: dict[str, float] = {}
    for key in ("build", "finalize", "encode"):
        v[f"{LAYER[key]}.wall_s"] = b["wall"][key]
    v[f"{LAYER['build']}.postings"] = b["report"].postings_built
    enc = b["encode"]
    v[f"{LAYER['encode']}.blocks"] = enc["blocks"]
    v[f"{LAYER['encode']}.bytes"] = enc["bytes"]
    v[f"{LAYER['encode']}.max_shard_wall_s"] = enc["max_shard_wall_sec"]
    for ph in ("read", "map", "sort", "encode", "write"):
        v[f"{LAYER['encode']}.{ph}_task_s"] = enc["phase_task_sec"][ph]
    total = 0
    for art in INDEX_ARTIFACTS:
        n = _dir_bytes(os.path.join(index_root, art))
        v[f"index.bytes.{art}"] = n
        total += n
    v["index.bytes_per_text_byte"] = total / text_bytes
    return v


def check_build(run: Run, b: dict, index_root: str, oracle_index) -> None:
    """Dictionary and corpus statistics of a finished root against the
    single-node oracle."""
    import pyarrow.parquet as pq

    terms = pq.read_table(
        os.path.join(index_root, "terms"), columns=["term", "term_id", "df", "ttf"]
    ).to_pandas()
    diff = checks.dictionary_mismatch(terms, oracle_index)
    with open(os.path.join(index_root, "stats.json")) as fh:
        stats = json.load(fh)
    if diff is None and stats["n_docs"] != oracle_index.n_docs:
        diff = f"n_docs {stats['n_docs']} vs oracle {oracle_index.n_docs}"
    if diff is None and abs(stats["avg_doc_len"] - oracle_index.avg_doc_len) > 1e-12:
        diff = f"avg_doc_len {stats['avg_doc_len']} vs oracle {oracle_index.avg_doc_len}"
    run.tally.record(diff is None, f"index build vs oracle: {diff}")


def check_resume(run: Run, transcripts_path: str, index_root: str) -> None:
    """A resume call on a finished root must build 0 partitions."""
    from ir_base_spark.index.manifest import resumable_build

    t0 = time.perf_counter()
    with run.tracer.span(LAYER["build"] + ".resume"):
        rep = resumable_build(
            run.spark, run.spark.read.parquet(transcripts_path), index_root,
            num_partitions=run.nproc, wave_size=run.nproc,
        )
    run.values[f"{LAYER['build']}.resume_wall_s"] = time.perf_counter() - t0
    run.values[f"{LAYER['build']}.resume_partitions_built"] = rep.partitions_built
    run.tally.record(
        rep.partitions_built == 0, f"resume built {rep.partitions_built} partitions"
    )


def _oracle_index(pdf):
    from ir_base_spark.oracle import build_oracle_index

    return build_oracle_index(
        [((c, int(t)), x) for c, t, x in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"])]
    )


# --------------------------------------------------------------- workloads


class QueryBatch:
    name = "query_batch"
    min_ops = MIN_BATCHES

    def prepare(self, run: Run) -> None:
        self.tr = inputs.transcripts(run.cache, QUERY_CONVERSATIONS, CORPUS_SEED, run.nproc)
        self.oracle = _oracle_index(self.tr["pdf"])
        self.root = os.path.join(run.work, "index")
        self.batches = [
            inputs.query_batch(self.tr["pdf"], run.seed, i, BATCH_QUERIES)
            for i in range(QUERY_BATCHES)
        ]
        self.results: list[dict] = []

    def setup(self, run: Run) -> dict:
        t0 = time.perf_counter()
        with run.tracer.span("setup.index_build"):
            self.built = build_index(run, self.tr["path"], self.root)
        t1 = time.perf_counter()
        self.idx = self.built["index"]
        # a warm-up batch: first calls of the query kernels and the M1
        # plan (the build before it already paid the session's own)
        with run.tracer.span("setup.warmup"):
            for i in range(WARMUP_BATCHES):
                self._run_batch(run, self.batches[i])
        return {
            "setup.index_build_s": t1 - t0,
            "session.warmup_s": time.perf_counter() - t1,
        }

    def _run_batch(self, run: Run, qpdf) -> dict:
        from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
        from ir_base_spark.query.wand import wand_topk_sharded

        tr, rec = run.tracer, {"queries": qpdf}
        t0 = time.perf_counter()
        with tr.span(LAYER["analyze"]):
            qt = analyze_query_terms(run.spark, qpdf)
        t1 = time.perf_counter()
        with tr.span(LAYER["wand"]):
            with tr.span(LAYER["wand"] + ".call"):
                wdf = wand_topk_sharded(run.spark, self.root, qt, algo="auto")
            t2 = time.perf_counter()
            with tr.span(LAYER["wand"] + ".collect"):
                rec["wand"] = wdf.collect()
        t3 = time.perf_counter()
        with tr.span(LAYER["m1"]):
            rec["m1"] = topk_search(self.idx, qt).collect()
        t4 = time.perf_counter()
        rec["wall"] = {"analyze": t1 - t0, "call": t2 - t1, "collect": t3 - t2, "m1": t4 - t3}
        self.results.append(rec)
        return rec

    def op(self, run: Run, i: int) -> tuple[float, float]:
        n = QUERY_BATCHES - WARMUP_BATCHES
        w = self._run_batch(run, self.batches[WARMUP_BATCHES + i % n])["wall"]
        return w["analyze"] + w["call"] + w["collect"], w["m1"]

    def _check_batches(self, run: Run) -> None:
        for rec in self.results:
            qids = list(rec["queries"]["query_id"])
            bad = checks.topk_mismatches(
                checks.topk_by_query(rec["m1"]), checks.topk_by_query(rec["wand"]), qids
            )
            run.tally.record_many(len(qids), bad, "WAND(auto) vs M1")

    def _check_oracle(self, run: Run) -> None:
        from ir_base_spark.oracle import search

        first = self.results[0]
        sample = first["queries"].head(ORACLE_SAMPLE)
        expected = {
            q: search(self.oracle, text, int(k))
            for q, text, k in zip(sample["query_id"], sample["query_text"], sample["k"])
        }
        bad = checks.topk_mismatches(
            expected, checks.topk_by_query(first["wand"]), list(expected)
        )
        run.tally.record_many(len(expected), bad, "WAND(auto) vs oracle")

    def _forced_algos(self, run: Run) -> None:
        """Traced runs: the warm-up batch again with each algorithm forced;
        every result must equal the auto route's."""
        from ir_base_spark.query.dataframe_bm25 import analyze_query_terms
        from ir_base_spark.query.wand import wand_topk_sharded

        first = self.results[0]
        qids = list(first["queries"]["query_id"])
        auto = checks.topk_by_query(first["wand"])
        for algo in ("maxscore", "wand", "taat"):
            t0 = time.perf_counter()
            with run.tracer.span(f"query.wand.algo_{algo}"):
                qt = analyze_query_terms(run.spark, first["queries"])
                rows = wand_topk_sharded(run.spark, self.root, qt, algo=algo).collect()
            run.values[f"query.wand.algo_{algo}.batch_s"] = time.perf_counter() - t0
            bad = checks.topk_mismatches(auto, checks.topk_by_query(rows), qids)
            run.tally.record_many(len(qids), bad, f"algo={algo} vs auto")

    def _single_queries(self, run: Run) -> None:
        """Traced runs: a few one-query calls (auto routes them to the
        block-max WAND cursor kernel); each must equal its batch rows."""
        from ir_base_spark.query.dataframe_bm25 import analyze_query_terms
        from ir_base_spark.query.wand import wand_topk_sharded

        first = self.results[0]
        batch_rows = checks.topk_by_query(first["wand"])
        qs = first["queries"].head(SINGLE_QUERIES)
        for j in range(len(qs)):
            one = qs.iloc[j : j + 1]
            qid = one["query_id"].iloc[0]
            with run.tracer.span("query.single"):
                with run.tracer.span(LAYER["analyze"] + ".single"):
                    qt = analyze_query_terms(run.spark, one)
                with run.tracer.span(LAYER["wand"] + ".call.single"):
                    wdf = wand_topk_sharded(run.spark, self.root, qt, algo="auto")
                with run.tracer.span(LAYER["wand"] + ".collect.single"):
                    rows = wdf.collect()
            bad = checks.topk_mismatches(batch_rows, checks.topk_by_query(rows), [qid])
            run.tally.record_many(1, bad, "single query vs its batch rows")

    def _rebuild(self, run: Run) -> None:
        """Traced runs: one more fresh-root build, now that the session is
        warm (the set-up build pays first-call costs)."""
        root = self.root + "-rebuild"
        with run.tracer.span("index.rebuild"):
            b = build_index(run, self.tr["path"], root)
        check_build(run, b, root, self.oracle)
        check_resume(run, self.tr["path"], root)
        run.values.update(index_layer_values(b, root, self.tr["text_bytes"]))
        run.values["index.turns_per_s"] = self.tr["turns"] / sum(b["wall"].values())

    def finish(self, run: Run) -> None:
        check_build(run, self.built, self.root, self.oracle)
        if run.trace:
            self._forced_algos(run)
            self._single_queries(run)
            self._rebuild(run)
        else:
            check_resume(run, self.tr["path"], self.root)
        self._check_batches(run)
        self._check_oracle(run)
        w = [r["wall"] for r in self.results[WARMUP_BATCHES:]]
        run.values[f"{LAYER['analyze']}.wall_s"] = _median([x["analyze"] for x in w])
        run.values[f"{LAYER['wand']}.call_s"] = _median([x["call"] for x in w])
        run.values[f"{LAYER['wand']}.collect_s"] = _median([x["collect"] for x in w])
        run.values[f"{LAYER['m1']}.collect_s"] = _median([x["m1"] for x in w])


class EntrySuite:
    name = "entry_suite"
    # two timed passes: a third would put a run over its share of the
    # time all runs of a measurement may take
    min_ops = 2
    entries = metrics.BM25_ENTRIES + metrics.OPS_ENTRIES

    def prepare(self, run: Run) -> None:
        self.sf_dir = inputs.entry_tables(run.cache, ENTRY_DOCS, ENTRY_VECS, run.seed)
        self.passes: list[dict] = []

    def _pass(self, run: Run) -> dict:
        import __spark_entry__ as E

        fns = E.queries()
        rec: dict = {"wall": {}, "result": {}}
        for name in self.entries:
            t0 = time.perf_counter()
            with run.tracer.span(f"entry.{name}"):
                rec["result"][name] = fns[name](run.spark, self.sf_dir).toPandas()
            rec["wall"][name] = time.perf_counter() - t0
        self.passes.append(rec)
        return rec

    def setup(self, run: Run) -> dict:
        t0 = time.perf_counter()
        with run.tracer.span("setup.warmup"):
            self._pass(run)
        return {"session.warmup_s": time.perf_counter() - t0}

    def op(self, run: Run, i: int) -> tuple[float, float]:
        w = self._pass(run)["wall"]
        return tuple(
            sum(w[n] for n in names) for names in (metrics.BM25_ENTRIES, metrics.OPS_ENTRIES)
        )

    def finish(self, run: Run) -> None:
        import duckdb

        import __spark_entry__ as E

        # the xxhash64 dedup oracles are computed from this directory
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf_dir
        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            expected = {n: con.sql(oracles[n]).df() for n in self.entries}
        finally:
            con.close()
        first = {n: checks.digest(self.passes[0]["result"][n]) for n in self.entries}
        for p in self.passes:
            for n in self.entries:
                got = p["result"][n]
                diff = checks.frame_mismatch(got, expected[n])
                if diff is None and checks.digest(got) != first[n]:
                    diff = "row count or hash differs from the first pass"
                run.tally.record(diff is None, f"entry {n}: {diff}")
        timed = self.passes[1:]
        for n in self.entries:
            run.values[f"entry.{n}.wall_s"] = _median([p["wall"][n] for p in timed])


WORKLOADS = {w.name: w for w in (QueryBatch, EntrySuite)}


# ------------------------------------------------------------ trace folding


def span_values(run: Run, stats: dict) -> dict[str, float]:
    """Per-layer figures folded from the traced spans and the event log.
    Warm-up spans are left out: they measure first calls, not the layer."""
    tr = run.tracer
    v: dict[str, float] = {}

    def inst(name: str, within: str | None = None) -> list[spans.JobStats]:
        """Stats of each span ``name``: under ``within`` if given, else
        outside the warm-up."""
        return [
            spans.inclusive(tr, stats, s)
            for s in tr.named(name)
            if (tr.within(s, within) if within else not tr.within(s, "setup.warmup"))
        ]

    def med(xs: list[spans.JobStats], attr: str) -> float:
        return _median([getattr(x, attr) for x in xs])

    b, f, e = (inst(LAYER[k], "index.rebuild") for k in ("build", "finalize", "encode"))
    v[f"{LAYER['build']}.task_s"] = med(b, "task_s")
    v[f"{LAYER['build']}.jobs"] = med(b, "jobs")
    v[f"{LAYER['build']}.task_skew"] = med(b, "skew")
    v[f"{LAYER['finalize']}.task_s"] = med(f, "task_s")
    v[f"{LAYER['finalize']}.jobs"] = med(f, "jobs")
    v[f"{LAYER['finalize']}.shuffle_write_bytes"] = med(f, "shuffle_write_bytes")
    v[f"{LAYER['finalize']}.spill_bytes"] = med(f, "spill_bytes")
    v[f"{LAYER['encode']}.task_s"] = med(e, "task_s")

    # batch WAND: the eager call and the collect together
    both = inst(LAYER["wand"])
    for attr in ("task_s", "jobs", "tasks", "shuffle_write_bytes"):
        v[f"{LAYER['wand']}.{attr}"] = med(both, attr)
    m1 = inst(LAYER["m1"])
    for attr in ("task_s", "jobs", "shuffle_write_bytes", "spill_bytes"):
        v[f"{LAYER['m1']}.{attr}"] = med(m1, attr)

    # one-query calls
    ms = 1000.0
    v[f"{LAYER['analyze']}.wall_ms"] = ms * _median(
        [s.wall for s in tr.named(LAYER["analyze"] + ".single")]
    )
    v[f"{LAYER['wand']}.call_ms"] = ms * _median(
        [s.wall for s in tr.named(LAYER["wand"] + ".call.single")]
    )
    v[f"{LAYER['wand']}.collect_ms"] = ms * _median(
        [s.wall for s in tr.named(LAYER["wand"] + ".collect.single")]
    )
    single = inst("query.single")
    v[f"{LAYER['wand']}.jobs_per_query"] = med(single, "jobs")
    v[f"{LAYER['wand']}.tasks_per_query"] = med(single, "tasks")

    for n in metrics.BM25_ENTRIES + metrics.OPS_ENTRIES:
        v[f"entry.{n}.task_s"] = med(inst(f"entry.{n}"), "task_s")

    # share of the traced operations' (and the warm rebuild's) wall time
    # that their top-level layer spans cover
    ops = tr.named("op") + tr.named("index.rebuild")
    if ops:
        wall = sum(o.wall for o in ops)
        v["trace.layer_coverage"] = 1.0 - sum(tr.self_time(o) for o in ops) / wall
    return v
