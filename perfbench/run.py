"""Benchmark for the transcript-KG pipeline.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads (see README.md in this folder):

- ``bulk_build``: commit a generated corpus with ``run_pipeline`` into a
  fresh directory, repeatedly. Set-up warms the JVM with a small build;
  in the traced run that build is a base plus one
  ``append_conversations`` batch, checked against the oracle.
- ``query_mix``: set-up materializes a graph; then one client issues a
  seeded mix of at least 48 queries over ``read_graph_edges`` in a
  closed loop.

Each run prints one line per metric (``<workload> <name> <value> <unit>``)
and, last, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics with tracing
off; ``--trace 1`` reports the per-layer metrics of a traced run and
writes its spans to ``.perfbench_work/traces/``. The exit code is 1 when a
correctness check fails and 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import ExitStack, nullcontext

import gen
from tracing import Tracer, cpu_s, eventlog_metrics, peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_build", "query_mix")
DRIVER_MEMORY = "3g"  # well below the RAM of a small shared host
MIN_QUERIES = 48  # one block of the mix (queries._BLOCK)

# corpus sizes, in conversations; a fresh JVM plus the first (cold) build
# take ~30 s of every run, which leaves room for one warm build
BULK_CONVS = 3000
# bulk_build's warm-up graph; the traced run builds it as a base plus an
# append batch of WARM_BATCH conversations
WARM_CONVS, WARM_BATCH = 120, 40
QUERY_CONVS = 500
ORACLE_SAMPLE = 16  # conversations checked against the pandas oracle


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Run:
    """State of one benchmark process: work directory, Spark session,
    tracer, check results and metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.report: dict[str, tuple[float, str]] = {}  # printed only
        self.dirs = 0
        self.spark_prefix = ""  # job-description prefix of the traced op
        self.spark = None

    # -- session --------------------------------------------------------
    def start_spark(self):
        from pyspark import SparkContext

        from jcpg_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}"
            ),
        }
        if self.args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.events
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        n = cpus()
        self.spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                               shuffle_partitions=n, extra_conf=conf)
        self.gateway_proc = SparkContext._gateway.proc
        self.tracer = Tracer(self.spark.sparkContext if self.args.trace else None)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit. Safe to call twice."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.gateway_proc.stdin.close()
        self.gateway_proc.wait(timeout=60)

    def release(self) -> None:
        """Drop every cache a previous call left behind."""
        import jcpg_spark

        jcpg_spark.clear_caches()
        self.spark.catalog.clearCache()

    def fresh_dir(self, tag: str) -> str:
        self.dirs += 1
        return os.path.join(self.work, f"{tag}-{self.dirs}")

    # -- results --------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def note(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)


# ---------------------------------------------------------------- inputs
def write_corpus(run: Run, n_conv: int, tag: str, first_conv: int = 0) -> tuple[str, "object"]:
    """Generate ``n_conv`` conversations from the seed; -> (parquet path,
    pandas frame)."""
    from jcpg_spark.synth import gazetteer_pdf

    pdf = gen.generate(run.args.seed, n_conv, gazetteer_pdf(), first_conv)
    path = os.path.join(run.work, f"{tag}.parquet")
    gen.write(pdf, path)
    return path, pdf


def dictionary(run: Run):
    from jcpg_spark.synth import gazetteer_pdf

    return run.spark.createDataFrame(gazetteer_pdf())


# -------------------------------------------------------------- checks
def oracle_build(pdf) -> tuple[dict, set]:
    """From-scratch build of the transcripts ``pdf`` by the pandas oracle.
    -> (per-conversation (n_triples, digest) as
    ``metrics.conversation_digests`` computes them, same_as pairs)."""
    import hashlib
    from collections import defaultdict

    import pandas as pd

    from jcpg_spark.synth import gazetteer_pdf
    from tests.oracle.pandas_oracle import oracle_graph

    tp = pdf.copy()
    tp["tool"] = tp["tool"].where(pd.notna(tp["tool"]), None)
    edges, _ = oracle_graph(tp, gazetteer_pdf())
    lines = defaultdict(list)
    for src, pred, dst, var, conv in edges:
        if conv is not None:
            lines[conv].append("\x1f".join([src, pred, dst, "\x00" if var is None else var]))
    digests = {c: (len(ls), hashlib.md5("\n".join(sorted(ls)).encode()).hexdigest())
               for c, ls in lines.items()}
    return digests, {(e[0], e[2]) for e in edges if e[1] == "same_as"}


def digest_diff(want: dict, edges) -> list[str]:
    """Conversations whose committed ``edges`` differ from ``want`` (as
    ``oracle_build`` gives it) as multisets of triples."""
    from jcpg_spark import metrics as tmetrics

    got = {r.conv_id: (r.n_triples, r.digest)
           for r in tmetrics.conversation_digests(edges).collect()}
    return sorted(c for c in set(want) | set(got) if want.get(c) != got.get(c))


def check_oracle_sample(run: Run, out_dir: str, pdf) -> None:
    """Committed edges of a fixed sample of conversations (seeded, plus
    the hot conversation) equal the pandas oracle's edges for them, row
    for row."""
    import random

    from pyspark.sql import functions as F

    from jcpg_spark import io as tio

    sizes = pdf.groupby("conv_id").size()
    convs = sorted(sizes.index)
    sample = set(random.Random(f"oracle:{run.args.seed}").sample(convs, ORACLE_SAMPLE))
    sample.add(sizes.idxmax())
    want, _ = oracle_build(pdf[pdf["conv_id"].isin(sample)])
    edges = tio.read_table(run.spark, out_dir, "edges").filter(F.col("conv_id").isin(sorted(sample)))
    bad = digest_diff(want, edges)
    run.check(not bad and len(want) == len(sample),
              f"oracle sample: {len(bad)} of {len(sample)} conversations differ")


def check_append(run: Run, out_dir: str, pdf) -> None:
    """After appends, ``read_graph_edges`` equals a from-scratch build of
    the whole corpus by the pandas oracle: the same per-conversation
    digests (``metrics.conversation_digests``) and the same same_as edges."""
    from pyspark.sql import functions as F

    from jcpg_spark.plans.materialize import read_graph_edges

    want, want_same = oracle_build(pdf)
    edges = read_graph_edges(run.spark, out_dir)
    bad = digest_diff(want, edges)
    got_same = {(r.src, r.dst) for r in edges.filter(F.col("pred") == "same_as").collect()}
    run.check(not bad and got_same == want_same and want_same,
              f"append + read_graph_edges differs from a from-scratch build: "
              f"{len(bad)} conversations, same_as {len(got_same)} vs {len(want_same)}")


# ----------------------------------------------------------- workloads
def bulk_build(run: Run) -> None:
    from pyspark.sql import functions as F

    from jcpg_spark import io as tio
    from jcpg_spark.plans import materialize

    t0 = time.perf_counter()
    run.start_spark()
    tr = run.tracer
    session_s = time.perf_counter() - t0
    d = dictionary(run)
    path, pdf = write_corpus(run, BULK_CONVS, "corpus")
    corpus = run.spark.read.parquet(path)
    wpath, wpdf = write_corpus(run, WARM_CONVS, "warm", first_conv=BULK_CONVS)
    warm = run.spark.read.parquet(wpath)

    # warm-up, excluded from the timed region: a small build. The traced
    # run builds it as a base plus one append batch and checks that
    # against the oracle (too slow to repeat in every untraced run).
    appended = run.fresh_dir("appended")
    if not run.args.trace:
        materialize.run_pipeline(run.spark, warm, d, appended)
        run.release()
    else:
        cut = sorted(wpdf["conv_id"].unique())[-WARM_BATCH]
        with io_spans(run), tr.span("setup.run_pipeline"):
            materialize.run_pipeline(run.spark, warm.filter(F.col("conv_id") < cut), d, appended)
        run.release()
        with io_spans(run), tr.span("setup.append_conversations") as append_span:
            materialize.append_conversations(
                run.spark, warm.filter(F.col("conv_id") >= cut), d, appended)
        run.release()
        append_s = tr.duration(append_span)
        run.note("append_s", append_s, "s")
        run.note("append_turns_per_s", int((wpdf["conv_id"] >= cut).sum()) / append_s, "1/s")
        check_append(run, appended, wpdf)
    setup_s = time.perf_counter() - t0

    if run.args.trace:
        # the traced build runs before the untraced one: the JIT is still
        # warming, so traced-minus-untraced errs high, not low
        with io_spans(run), tr.span("build.run_pipeline") as build_span:
            materialize.run_pipeline(run.spark, corpus, d, run.fresh_dir("traced"))
        run.release()

    walls, cpus, rows, keep = [], [], 0, None
    deadline = time.perf_counter() + run.args.seconds
    while not walls or time.perf_counter() < deadline:
        out = run.fresh_dir("build")
        c0, tb = cpu_s(), time.perf_counter()
        summary = materialize.run_pipeline(run.spark, corpus, d, out)
        walls.append(time.perf_counter() - tb)
        cpus.append(cpu_s() - c0)
        rows = summary.manifests["edges"]["rows"]
        run.release()
        if keep is None:
            keep = out
        else:
            shutil.rmtree(out)
        if run.args.trace:
            break  # one untraced build is the baseline of the traced one

    # correctness gates, outside the timed region
    check_oracle_sample(run, keep, pdf)
    run.check(tio.read_table(run.spark, keep, "edges").count() == rows,
              "committed edge rows differ from the manifest")

    build_s = statistics.median(walls)
    if not run.args.trace:
        run.put("setup_s", setup_s, "s")
        run.put("op_cpu_ms", statistics.median(cpus) * 1000, "ms")
        run.note("peak_rss_mb", peak_rss_mb(os.getpid()), "MB")
        run.note("build_s", build_s, "s")
        run.note("build_triples_per_s", rows / build_s, "1/s")
        run.note("build_samples", len(walls), "count")
        run.note("session_s", session_s, "s")
        return

    run.put("trace.overhead_s", tr.duration(build_span) - build_s, "s")
    run.put("trace.untraced_s", build_s, "s")
    run.put("materialize.unattributed_s", tr.self_time(append_span["idx"]), "s")
    layer_metrics(run, corpus, d, keep, build_span["idx"])
    query_pass(run, keep)
    run.spark_prefix = "build.run_pipeline"


def query_mix(run: Run) -> None:
    import queries
    from jcpg_spark import io as tio
    from jcpg_spark.plans import materialize

    t0 = time.perf_counter()
    run.start_spark()
    tr = run.tracer
    session_s = time.perf_counter() - t0
    path, pdf = write_corpus(run, QUERY_CONVS, "corpus")
    d = dictionary(run)
    corpus = run.spark.read.parquet(path)
    graph = run.fresh_dir("graph")
    with io_spans(run), tr.span("setup.run_pipeline") as build_span:
        materialize.run_pipeline(run.spark, corpus, d, graph)
    run.release()
    mirror, mix, warm = make_mix(run, graph, pdf)
    edges = materialize.read_graph_edges(run.spark, graph)
    for q in warm:  # the JIT keeps warming after these; more would not fit
        q.run(edges).collect()
    setup_s = time.perf_counter() - t0

    def loop(todo, traced: bool, open_ended: bool = True) -> list[tuple]:
        """Run ``todo`` in order; an open-ended loop stops once it has
        run MIN_QUERIES queries and ``--seconds`` of query time."""
        done, busy = [], 0.0
        for q in todo:
            if open_ended and len(done) >= MIN_QUERIES and busy >= run.args.seconds:
                break
            with tr.span(f"query.{q.form}") if traced else nullcontext():
                tq = time.perf_counter()
                try:
                    rows = q.run(edges).collect()
                except Exception as exc:  # a failed query counts, the loop goes on
                    rows = exc
                lat = time.perf_counter() - tq
            busy += lat
            done.append((q, lat, rows))
        return done

    if run.args.trace:
        # traced first, then the same queries untraced: the JIT is still
        # warming, so traced-minus-untraced errs high, not low
        with tr.span("queries"):
            traced = loop(mix, True)
        mix = [q for q, _, _ in traced]
    c0 = cpu_s()
    done = loop(mix, False, open_ended=not run.args.trace)
    cpu_per_query = (cpu_s() - c0) / len(done)
    lats = [lat for _, lat, _ in done]
    for q, _, rows in done:
        if isinstance(rows, Exception):
            run.check(False, f"{q.key}: {type(rows).__name__}: {rows}")
        else:
            got = queries.rows_digest(tuple(r) for r in rows)
            run.check(got == mirror.expected(q), f"{q.key}: {got[0]} rows, "
                      f"DuckDB mirror {mirror.expected(q)[0]}")
    if not run.args.trace:
        p50 = statistics.median(lats)
        run.put("setup_s", setup_s, "s")
        run.put("op_cpu_ms", cpu_per_query * 1000, "ms")
        run.note("peak_rss_mb", peak_rss_mb(os.getpid()), "MB")
        run.note("query_p50_ms", p50 * 1000, "ms")
        run.note("query_p90_ms", percentile(lats, 90) * 1000, "ms")
        run.note("query_samples", len(lats), "count")
        run.note("queries_per_s", len(lats) / sum(lats), "1/s")
        run.note("session_s", session_s, "s")
        mirror.close()
        return

    run.put("trace.overhead_s", sum(l for _, l, _ in traced) - sum(lats), "s")
    run.put("trace.untraced_s", sum(lats), "s")
    run.put("materialize.unattributed_s", tr.self_time(build_span["idx"]), "s")
    put_query_metrics(run, traced)
    mirror.close()
    layer_metrics(run, corpus, d, graph, build_span["idx"])
    run.spark_prefix = "queries"


# ---------------------------------------------------------- trace helpers
def io_spans(run: Run):
    """Spans around io.write_table / io.read_table while the block runs;
    each write span records the files and bytes of the snapshot it
    committed."""
    from jcpg_spark import io as tio

    def on_write(rec, args, kwargs, manifest):
        base, name = args[1], args[2]
        snap = os.path.join(base, name, f"snap-{manifest['snapshot_id']}")
        files = [os.path.join(snap, f) for f in os.listdir(snap)]
        rec["table"] = name
        rec["files"] = sum(1 for f in files if f.endswith(".parquet"))
        rec["bytes"] = sum(os.path.getsize(f) for f in files)

    stack = ExitStack()
    stack.enter_context(run.tracer.patched(tio, "write_table", "io.write_table", on_write))
    stack.enter_context(run.tracer.patched(tio, "read_table", "io.read_table"))
    return stack


def make_mix(run: Run, graph: str, pdf):
    """-> (DuckDB mirror of the graph, the seeded query mix, warm-up
    queries: two passes over the templates)."""
    import queries
    from jcpg_spark import io as tio

    data_dirs = {t: tio.read_manifest(graph, t)["data_dirs"] for t in ("edges", "alias_mapping")}
    mirror = queries.DuckMirror(graph, data_dirs)
    convs = sorted(pdf["conv_id"].unique())
    tools = sorted(pdf["tool"].dropna().unique())
    # ASK probes: merged entities (answer yes) and component roots (no)
    entities = [r[0] for r in mirror.con.execute(
        "SELECT DISTINCT src FROM edges WHERE pred = 'same_as' UNION "
        "SELECT DISTINCT dst FROM edges WHERE pred = 'same_as' ORDER BY 1").fetchall()]
    mix = queries.make_mix(run.args.seed, 10 * MIN_QUERIES, convs, tools, entities)
    # warm-up: each template twice, with different constants
    warm = [q for k in (0, 1) for q in queries.templates(convs[k:], tools[k:], entities[k:])]
    return mirror, mix, warm


def put_query_metrics(run: Run, done: list[tuple]) -> None:
    import queries

    for form in queries.FORMS:
        lats = [lat for q, lat, _ in done if q.form == form]
        run.put(f"query.{form}_ms", statistics.median(lats) * 1000 if lats else 0.0, "ms")
    run.put("query.p90_ms", percentile([lat for _, lat, _ in done], 90) * 1000, "ms")
    run.put("query.rows_out", sum(len(r) for _, _, r in done if not isinstance(r, Exception)),
            "count")


def query_pass(run: Run, graph: str) -> None:
    """One traced query of each template over a built graph, so the query
    layer is measured on every workload's traced run."""
    import pandas as pd

    import queries

    from jcpg_spark.plans import materialize

    pdf = pd.read_parquet(os.path.join(run.work, "corpus.parquet"), columns=["conv_id", "tool"])
    mirror, _, warm = make_mix(run, graph, pdf)
    edges = materialize.read_graph_edges(run.spark, graph)
    done = []
    with run.tracer.span("queries"):
        for q in warm[:len(warm) // 2]:  # the first pass: each template once
            with run.tracer.span(f"query.{q.form}"):
                tq = time.perf_counter()
                rows = q.run(edges).collect()
                lat = time.perf_counter() - tq
            run.check(queries.rows_digest(tuple(r) for r in rows) == mirror.expected(q),
                      f"{q.key}: result differs from the DuckDB mirror")
            done.append((q, lat, rows))
    mirror.close()
    put_query_metrics(run, done)


def layer_metrics(run: Run, corpus, d, graph: str, materialize_span: int) -> None:
    """Per-layer busy time: each lazy layer forced once with a noop write
    over persisted inputs, plus isolated io writes and reads. The io
    counts come from the traced materialize call ``materialize_span``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from jcpg_spark import io as tio
    from jcpg_spark import metrics as tmetrics
    from jcpg_spark.operators import calls, canonicalize, linking, mentions, references, structural
    from jcpg_spark.pipeline import DEFAULT_FAILURE_RX, node_layers
    from jcpg_spark.plans import materialize

    tr = run.tracer
    layers_sum = 0.0

    def force(name: str, df) -> tuple[float, int]:
        nonlocal layers_sum
        obs = Observation(name.replace(".", "_"))
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        with tr.span(name) as rec:
            df.write.format("noop").mode("overwrite").save()
        dur = tr.duration(rec)
        layers_sum += dur
        return dur, obs.get["n"]

    with tr.span("layers"):
        t = corpus.persist()
        turns = t.count()
        surfaces = [r["surface"] for r in d.select("surface").distinct().collect()]
        m_df = mentions.detect_mentions(run.spark, t, surfaces,
                                        turn_flag_rx=canonicalize.INTRO_RX)
        busy, n_m = force("mentions", m_df)
        run.put("mentions.busy_s", busy, "s")
        run.put("mentions.per_turn", n_m / turns, "ratio")
        m = m_df.persist()
        m.count()
        busy, n_l = force("linking", linking.link_mentions(m, d))
        run.put("linking.busy_s", busy, "s")
        run.put("linking.linked_ratio", n_l / max(n_m, 1), "ratio")
        linked = linking.link_mentions(m, d).persist()
        linked.count()
        for name, df in (
            ("calls", calls.cfg_triples(t, failure_rx=DEFAULT_FAILURE_RX)),
            ("structural", structural.sentence_triples(t)),
            ("references", references.reference_triples(linked)),
        ):
            busy, n = force(name, df)
            run.put(f"{name}.busy_s", busy, "s")
            run.put(f"{name}.triples_out", n, "count")
        busy, _ = force("pipeline.nodes", node_layers(t, m, linked))
        run.put("pipeline.nodes_busy_s", busy, "s")
        with tr.span("canonicalize") as rec:
            pairs = canonicalize.alias_pairs(t, linked).persist()
            n_pairs = pairs.count()
            mapping, rounds, _ = canonicalize.connected_components(pairs)
            mapping.write.format("noop").mode("overwrite").save()
        layers_sum += tr.duration(rec)
        run.put("canonicalize.busy_s", tr.duration(rec), "s")
        run.put("canonicalize.pairs", n_pairs, "count")
        run.put("canonicalize.rounds", rounds, "count")
        edges = tio.read_table(run.spark, graph, "edges")
        busy, _ = force("metrics", tmetrics.edge_metrics(edges))
        run.put("metrics.busy_s", busy, "s")

        # io: writes of already-computed tables, and one graph read
        scratch = run.fresh_dir("io")
        cached_edges = edges.persist()
        cached_edges.count()
        cached_nodes = tio.read_table(run.spark, graph, "nodes").persist()
        cached_nodes.count()
        with tr.span("io.write") as rec:
            tio.write_table(cached_edges, scratch, "edges", bucket_col="_bucket_key")
            tio.write_table(cached_nodes, scratch, "nodes", bucket_col="node_id")
        run.put("io.write_s", tr.duration(rec), "s")
        busy, _ = force("io.read", materialize.read_graph_edges(run.spark, graph))
        run.put("io.read_s", busy, "s")
    run.release()
    writes = [s for s in tr.spans
              if s["name"] == "io.write_table" and s["parent"] == materialize_span]
    run.put("io.commits", len(writes), "count")
    run.put("io.files_written", sum(s["files"] for s in writes), "count")
    run.put("io.bytes_written", sum(s["bytes"] for s in writes), "bytes")
    run.put("trace.layers_sum_s", layers_sum, "s")


def finish_trace(run: Run) -> None:
    """After the session stopped: event-log metrics and the span dump."""
    totals, per_desc = eventlog_metrics(run.events, run.spark_prefix)
    run.put("spark.shuffle_write_mb", totals.get("shuffle_write_mb", 0.0), "MB")
    run.put("spark.shuffle_read_mb", totals.get("shuffle_read_mb", 0.0), "MB")
    run.put("spark.spill_mb", totals.get("spill_mb", 0.0), "MB")
    run.put("spark.task_skew", totals["task_skew"], "ratio")
    run.put("spark.gc_s", totals.get("gc_s", 0.0), "s")
    run.put("spark.failed_tasks", totals.get("failed_tasks", 0.0), "count")
    out = os.path.join(ROOT, ".perfbench_work", "traces",
                       f"{run.args.workload}-seed{run.args.seed}.json")
    run.tracer.dump(out, {"workload": run.args.workload, "seed": run.args.seed,
                          "metrics": {k: v[0] for k, v in run.metrics.items()},
                          "stages_by_span": per_desc})
    print(f"trace written to {os.path.relpath(out, ROOT)}", flush=True)


# ------------------------------------------------------------------ main
def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import jcpg_spark  # noqa: F401
        from tests.oracle import pandas_oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temp file of the driver, the JVM and the Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    run = Run(args, work)
    try:
        {"bulk_build": bulk_build, "query_mix": query_mix}[args.workload](run)
        run.stop_spark()
        if args.trace:
            finish_trace(run)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in {**run.report, **run.metrics}.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    error_rate = run.failed / max(run.attempted, 1)
    print(f"{args.workload} error_rate {error_rate:.6g} ratio")
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
    }), flush=True)
    return 0 if not run.problems else 1


if __name__ == "__main__":
    sys.exit(main())
