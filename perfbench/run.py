"""Benchmark of the shipped KG build and its incremental refresh.

    python3 perfbench/run.py --workload build_web --seed 1 --seconds 10 --trace 0

Drives the entry points exactly as ``jobs/build_graph.py`` calls them:
``session.get_spark`` with its defaults on ``local[<cpus>]``,
``plans.pipeline.build_graph`` and ``operators.incremental.incremental_update``.
Inputs come from ``corpus.generator.generate_corpus`` with ``--seed``, and
every timed job is checked against ``corpus.oracle.run_oracle`` on the same
pages; a mismatch counts the job as failed.

Workloads (closed loop, one job call at a time):

* ``build_web`` -- a full ``build_graph`` of crawl-like pages over a small
  gazetteer; every build layer except ``upsert`` does work.
* ``refresh`` -- ``incremental_update`` of a warehouse built during set-up
  with a seeded change set (equal thirds modify / delete / add). Each job
  starts from a pristine copy of that warehouse. Set-up also makes a
  checked warm-up refresh, so the timed ones run in a warmer JVM.

``--trace 0`` prints the end-to-end metrics, measured with tracing off:
``wall_s`` (median wall of the timed job calls), ``pages_per_s`` (snapshot
pages / ``wall_s``), ``cpu_s`` (median CPU seconds of the whole process
tree per call), ``setup_s`` (imports, session start, inputs, oracle and,
for ``refresh``, the base build and the warm-up refresh) and
``merge_precision`` / ``merge_recall`` (``canon_map`` same-as pairs against
the generator's ``twin_of`` truth).
``--trace 1`` traces every call instead: one span per wrapped layer call
(``spans.py``), Spark stages attributed to layers through the event log,
and prints the per-layer metrics of the first call, its traced wall and
the time the tracer itself spent in it.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is 0 only when every checked job matched the oracle.
Everything the run writes goes under ``.bench_work/`` at the repo root; the
per-run directory is removed at exit and span dumps stay in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "augmented_codebase_indexer_spark"
RUN_ID = "run-0"

WORKLOADS = {
    "build_web": {"job": "build", "n_pages": 2000, "n_entities": 60},
    # a refresh of ~20 pages costs mostly driver-side planning, whose JIT
    # warm-up makes the first call after the base build ~25% slower
    "refresh": {"job": "refresh", "n_pages": 2000, "n_entities": 60, "change_frac": 0.01,
                "warmup": 1},
}


def validate(params: dict) -> None:
    """Reject sizes the corpus generator cannot produce, before generating.

    ``generator._make_entities`` draws persons (every 4th entity, from
    index 1) from first x last name pairs and all other entities from
    adjective x noun combos, without replacement; past either pool it
    raises a bare IndexError."""
    from augmented_codebase_indexer_spark.corpus import generator as g

    n_pages, n_ent = params["n_pages"], params["n_entities"]
    if n_pages < 10:
        raise SystemExit(f"n_pages={n_pages}: need at least 10 pages")
    persons = (n_ent + 2) // 4
    person_pool = len(g._FIRST) * len(g._LAST)
    other_pool = len(g._ADJ) * len(g._NOUN)
    if n_ent < 4 or persons > person_pool or n_ent - persons > other_pool:
        raise SystemExit(
            f"n_entities={n_ent}: the generator supports 4..N entities with at most "
            f"{person_pool} persons and {other_pool} orgs/places/products "
            f"(this size needs {persons} and {n_ent - persons})"
        )
    frac = params.get("change_frac")
    if frac is not None and not 0 < frac <= 0.5:
        raise SystemExit(f"change_frac={frac}: must be in (0, 0.5]")


# -- inputs ----------------------------------------------------------------------


def change_set(data, seed: int, frac: float) -> tuple[list[dict], dict]:
    """Seeded change set over the generated (non-edge-case) pages: equal
    thirds modify / delete / add. Returns the updated page snapshot and the
    set of changed urls per kind."""
    from augmented_codebase_indexer_spark.corpus.generator import PRED_TEMPLATES

    rng = random.Random(f"perfbench-refresh-{seed}")
    regular = [i for i, p in enumerate(data.pages) if not p["url"].startswith("https://edge.")]
    k = max(1, round(len(regular) * frac / 3))
    picked = rng.sample(regular, 2 * k)
    modify, delete = set(picked[:k]), set(picked[k:])
    base = [e for e in data.entities if e.twin_of is None]
    preds = sorted(PRED_TEMPLATES)

    def new_html() -> bytes:
        sents = []
        for _ in range(rng.randint(1, 3)):
            s, o = rng.sample(base, 2)
            sents.append(PRED_TEMPLATES[rng.choice(preds)].format(
                s=rng.choice(s.aliases[:2]), o=o.aliases[0]))
        body = "".join(f"<p>revised notes follow. {x}</p>" for x in sents)
        return f"<html><body><article>{body}</article></body></html>".encode()

    pages, changed = [], {"modify": set(), "delete": set(), "add": set()}
    for i, p in enumerate(data.pages):
        if i in delete:
            changed["delete"].add(p["url"])
        elif i in modify:
            pages.append(dict(p, html=new_html(), lang="en"))
            changed["modify"].add(p["url"])
        else:
            pages.append(p)
    ts = max(p["warc_ts"] for p in data.pages)
    for j in range(k):
        url = f"https://site-new.example/page-{j:06d}"
        pages.append({"url": url, "warc_ts": ts, "html": new_html(), "text": None, "lang": "en"})
        changed["add"].add(url)
    return pages, changed


def write_pages(pages: list[dict], path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    pq.write_table(pa.Table.from_pylist(pages, schema=schema), path)
    return path


# -- output checks -----------------------------------------------------------------


def _rows(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def _edges(wh: str) -> list[tuple]:
    cols = ["subj_id", "pred", "obj_id", "url", "pos"]
    return [tuple(r[c] for c in cols) for r in _rows(os.path.join(wh, "edges"), cols)]


def check_edges(wh: str, ref) -> list[str]:
    edges = _edges(wh)
    errs = []
    if len(edges) != len(set(edges)):
        errs.append(f"edges: {len(edges) - len(set(edges))} duplicate rows")
    if set(edges) != ref.triples:
        got = set(edges)
        errs.append(f"edges: {len(got - ref.triples)} extra, {len(ref.triples - got)} missing vs oracle")
    return errs


def check_build(wh: str, summary: dict, ref) -> list[str]:
    errs = check_edges(wh, ref)
    nodes = {r["node_id"]: (r["mention_count"], r["first_url"])
             for r in _rows(os.path.join(wh, "nodes"), ["node_id", "mention_count", "first_url"])}
    want = {k: (v["mention_count"], v["first_url"]) for k, v in ref.nodes.items()}
    if nodes != want:
        bad = sum(1 for k in nodes.keys() | want.keys() if nodes.get(k) != want.get(k))
        errs.append(f"nodes: {bad} of {len(want)} differ from oracle (mention_count, first_url)")
    if summary["unresolved"] != len(ref.unresolved):
        errs.append(f"unresolved: {summary['unresolved']} vs oracle {len(ref.unresolved)}")
    return errs


def merge_scores(wh: str, entities) -> tuple[float, float]:
    """Pairwise precision / recall of the built ``canon_map`` same-as
    merges against the generator's ``Entity.twin_of`` truth."""
    groups: dict[str, list[str]] = {}
    for r in _rows(os.path.join(wh, "canon_map"), ["ent_id", "canonical_id"]):
        groups.setdefault(r["canonical_id"], []).append(r["ent_id"])
    pred = {tuple(sorted(p)) for g in groups.values() for p in itertools.combinations(g, 2)}
    true = {tuple(sorted((e.ent_id, e.twin_of))) for e in entities if e.twin_of}
    hit = len(pred & true)
    return (hit / len(pred) if pred else 1.0), (hit / len(true) if true else 1.0)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the driver
    JVM and Spark's Python workers: every live process descended from this
    one, plus the children each has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in mine:
                mine.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in mine if p in stats) / tick


# -- Spark session ---------------------------------------------------------------


def start_spark(work: str, event_log: str | None):
    from augmented_codebase_indexer_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        # Spark 4.1 compresses event logs with zstd by default; stay plain
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -- workloads ---------------------------------------------------------------------


class Bench:
    """One benchmark run: set-up, then checked job calls.

    For ``build`` the timed call is the first build in a fresh JVM, what
    the shipped job pays per ``spark-submit``; it takes longer than
    ``run_seconds`` in BENCHMARK.json, so a run times exactly one. For
    ``refresh`` set-up builds the warehouse every refresh starts from and
    makes ``warmup`` checked refreshes; the run then times warm refreshes
    for ``run_seconds`` and reports their median."""

    def __init__(self, name: str, params: dict, seed: int, work: str):
        self.name, self.params, self.seed, self.work = name, params, seed, work
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.traced: list[tuple[dict, float]] = []  # (tracer job, wall)
        self.attempted = self.failed = 0
        self.merge: tuple[float, float] | None = None
        self.extra: dict[str, float] = {}
        self._n = 0

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from augmented_codebase_indexer_spark.corpus.generator import generate_corpus
        from augmented_codebase_indexer_spark.corpus.oracle import run_oracle
        from augmented_codebase_indexer_spark.plans.pipeline import build_graph

        p = self.params
        self.spark = spark
        self.data = generate_corpus(p["n_pages"], p["n_entities"], self.seed)
        os.makedirs(self.path("corpus"))
        gaz_path = self.path("corpus", "gazetteer.parquet")
        pq.write_table(pa.Table.from_pylist(self.data.gazetteer), gaz_path)
        self.gaz = spark.read.parquet(gaz_path)
        base = spark.read.parquet(write_pages(self.data.pages, self.path("corpus", "pages.parquet")))
        if p["job"] == "build":
            pages = self.data.pages
            self.pages = base
        else:
            pages, self.changed = change_set(self.data, self.seed, p["change_frac"])
            self.pages = spark.read.parquet(write_pages(pages, self.path("corpus", "pages_new.parquet")))
            build_graph(spark, base, self.gaz, self.path("pristine"), run_id=RUN_ID)
            self.merge = merge_scores(self.path("pristine"), self.data.entities)
        self.n_pages = len(pages)
        self.ref = run_oracle(pages, self.data.gazetteer)
        for _ in range(p.get("warmup", 0)):
            self.timed(record=False)

    def _call(self, wh: str, tracer=None) -> float:
        """One job call into the fresh warehouse dir ``wh``; returns wall_s."""
        if self.params["job"] == "build":
            from augmented_codebase_indexer_spark.plans.pipeline import build_graph

            def fn():
                return build_graph(self.spark, self.pages, self.gaz, wh, run_id=RUN_ID)
        else:
            from augmented_codebase_indexer_spark.operators.incremental import incremental_update
            from augmented_codebase_indexer_spark.sources.catalog import Warehouse

            shutil.copytree(self.path("pristine"), wh)

            def fn():
                return incremental_update(self.spark, Warehouse(wh, RUN_ID), self.pages, self.gaz)
        if tracer is None:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            self.summary = fn()
            wall = time.perf_counter() - t0
            self.cpu = tree_cpu_s() - c0
            return wall
        self.summary, wall = tracer.job(f"{self.name}-s{self.seed}-{self._n}", fn)
        return wall

    def _check(self, wh: str) -> list[str]:
        if self.params["job"] == "build":
            return check_build(wh, self.summary, self.ref)
        return check_edges(wh, self.ref)

    def timed(self, tracer=None, record: bool = True) -> None:
        """One checked job call; a call that raises or differs from the
        oracle counts as failed and its wall is dropped. A warm-up call
        (``record=False``) is checked but not timed."""
        self._n += 1
        self.attempted += 1
        wh = self.path(f"wh-{self._n}")
        try:
            wall = self._call(wh, tracer)
            errs = self._check(wh)
        except Exception as e:  # a job that raises is a failed attempt
            errs = [f"{type(e).__name__}: {e}"]
        if errs:
            self.failed += 1
            print(f"perfbench: job {self._n} FAILED: " + "; ".join(errs), file=sys.stderr)
        elif record:
            if self.merge is None:
                self.merge = merge_scores(wh, self.data.entities)
            if tracer is None:
                self.walls.append(wall)
                self.cpus.append(self.cpu)
            else:
                self.traced.append((tracer.jobs[-1], wall))
                if len(self.traced) == 1:
                    self._trace_ratios(wh)
        shutil.rmtree(wh, ignore_errors=True)

    def _trace_ratios(self, wh: str) -> None:
        """Bases for the two per-layer ratios, read from the traced call's
        warehouse (outside its timed span)."""
        if self.params["job"] == "build":
            linked = _rows(os.path.join(wh, "linked"), ["resolved"])
            self.extra["link.resolved_frac"] = sum(r["resolved"] for r in linked) / len(linked)
        else:
            changed = set().union(*self.changed.values())
            before = sum(1 for e in _edges(self.path("pristine")) if e[3] in changed)
            after = sum(1 for e in _edges(wh) if e[3] in changed)
            self.extra["upsert.changed_edge_rows"] = before + after

    def measure(self, seconds: float, tracer=None) -> None:
        """Job calls until ``seconds`` have passed (at least one); with a
        tracer every call is traced."""
        t_end = time.perf_counter() + seconds
        while True:
            if tracer is None:
                self.timed()
            else:
                with tracer.installed():
                    self.timed(tracer)
            if time.perf_counter() >= t_end:
                return


def end_to_end(b: Bench, setup_s: float) -> dict:
    wall = statistics.median(b.walls)
    return {
        "wall_s": (wall, "s"),
        "pages_per_s": (b.n_pages / wall, "pages/s"),
        "cpu_s": (statistics.median(b.cpus), "s"),
        "setup_s": (setup_s, "s"),
        "merge_precision": (b.merge[0], "ratio"),
        "merge_recall": (b.merge[1], "ratio"),
    }


def per_layer(b: Bench, tracer, event_log: str) -> dict:
    """Per-layer metrics of the first traced call, the two ratios, the
    traced job wall and the time the tracer itself spent in it."""
    from spans import LAYER_METRICS, LAYERS, layer_stage_metrics

    job, wall = b.traced[0]
    costs = layer_stage_metrics(event_log, job["tag"])
    walls = tracer.layer_walls(job)
    out = {f"{L}.{m}": (walls[L] if m == "wall_s" else costs[L][m], _unit(m))
           for L in LAYERS for m in LAYER_METRICS}
    out["link.resolved_frac"] = (b.extra.get("link.resolved_frac", 0.0), "ratio")
    base = b.extra.get("upsert.changed_edge_rows", 0)
    out["upsert.write_amplification"] = (
        out["upsert.rows_out"][0] / base if base else 0.0, "ratio")
    out["trace.job_wall_s"] = (wall, "s")
    out["trace.span_s"] = (job["span_s"], "s")
    return out


def _unit(m: str) -> str:
    return {"wall_s": "s", "executor_run_s": "s", "python_run_s": "s", "jobs": "count",
            "rows_out": "rows", "failed_tasks": "count", "task_skew": "ratio"}.get(m, "bytes")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    params = WORKLOADS[args.workload]
    validate(params)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(ROOT, ".bench_work", "traces")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(traces, exist_ok=True)
    # Spark's Python workers import the package through PYTHONPATH, which
    # the driver JVM and its workers inherit; sys.path alone does not reach them
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # keep the JVM's scratch files in the checkout too: java.io.tmpdir, and
    # no hsperfdata file (HotSpot always puts that one under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:+PerfDisableSharedMem"]))

    event_log = os.path.join(work, "eventlog") if args.trace else None
    bench = Bench(args.workload, params, args.seed, work)
    spark = None
    try:
        spark = start_spark(work, event_log)
        bench.setup(spark)
        setup_s = time.perf_counter() - t_setup
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        bench.measure(args.seconds, tracer)
        stop_spark(spark)
        spark = None
        ok = bench.failed == 0 and bool(bench.traced if args.trace else bench.walls)
        if not ok:
            metrics = {}
        elif args.trace:
            metrics = per_layer(bench, tracer, event_log)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(bench, setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} params={params}: "
          f"walls_s={bench.walls or [w for _, w in bench.traced]} (traced={bool(args.trace)}; "
          f"a tail percentile needs at least 11 samples, so only the median is reported), "
          f"failed_frac={bench.failed}/{bench.attempted}")
    print(json.dumps({
        "correct": bool(ok),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
