"""corpus_curation: a closed loop over ``queries`` registry callables.

One client runs whole passes over the workload's query list, each pass in
a seeded order, until the measuring window is used up.  Each operation is
the registry call plus full materialization by ``collect()``: every output
column is computed (a ``count()`` lets Catalyst prune columns, and with
them operators such as the rolling ``Window`` of ``flagship_pair_zscore``),
and the collected rows are what the check compares against the query's
DuckDB oracle twin afterwards.
"""

from __future__ import annotations

import time

from perfbench import gen
from perfbench.harness import Run, median, percentile
from perfbench.trace import layer_from_ops, parse_event_log

# Hash and similarity kernels: the md5 minhash family with its exact-truth
# leg, and the one Arrow/Python query of the family (ann_lsh_topk).  Two,
# so a cold pass plus the timed passes fit the run budget: with
# ann_ivfpq_recall_audit as a third, a run took up to 74 s on a slow host.
CORPUS = ["minhash_recall_audit", "ann_lsh_topk"]
# The corpus is the size of the sf0.1 fixtures (5,000 documents, 2,000
# vectors).  At this size each query's executor CPU time exceeds its
# driver idle time (wall minus Spark job spans) on 4 cores; a larger corpus
# would not fit a cold pass and three timed passes into the run budget.
SIZES = dict(orders=500, events=1000, docs=5000, vecs=2000)
NEAR_DUP_SHARE = 0.2
MIN_PASSES = 3


class CollectedRows:
    """The collected output of one query execution, shaped like the
    DataFrame ``tools/check_oracle.compare`` expects."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class Oracle:
    """DuckDB twin answers over the generated tables, computed once per
    query, outside any timed window."""

    def __init__(self, sf_dir: str, registry: dict) -> None:
        from tools.check_oracle import duck_con

        self.con = duck_con(sf_dir)
        self.registry = registry
        self.answers: dict[str, tuple[list, list[str]]] = {}

    def check(self, name: str, out: CollectedRows) -> list[str]:
        from tools.check_oracle import compare

        if name not in self.answers:
            res = self.con.execute(self.registry[name].oracle)
            self.answers[name] = (res.fetchall(), [d[0] for d in res.description])
        rows, cols = self.answers[name]
        if not rows:  # every query in CORPUS answers rows on these inputs
            return [f"{name}: the oracle answer is empty"]
        return compare(name, out, rows, cols)


def plan_ms(df) -> float:
    """Analysis + optimization + planning time from the DataFrame's
    ``QueryExecution`` tracker (valid after its action ran)."""
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(df._jdf.queryExecution().tracker().phases())
    return float(sum(phases[k].durationMs() for k in phases.keySet()))


def materialize(df) -> list:
    """The timed action: collect every row and column, so no output column
    can be pruned from the plan."""
    return df.collect()


def execute(run: Run, registry: dict, sf_dir: str, name: str, parent: int) -> tuple[CollectedRows | None, dict]:
    """One timed operation: registry build, then the full-materialization
    action.  Returns the output (None if it raised) and its timings."""
    op = run.spans.open(name, parent)
    try:
        b = run.spans.open("build", op)
        df = registry[name].spark(run.spark, sf_dir)
        run.spans.close(b)
        a = run.spans.open("action", op)
        rows = materialize(df)
        run.spans.close(a)
    except Exception as e:  # noqa: BLE001 - a failing query is a counted failure, not a crash
        run.spans.close(op, error=f"{type(e).__name__}: {e}"[:300])
        return None, {}
    span = run.spans.close(op)
    timing = {"span": op, "start": span.start, "end": span.end, "wall_s": span.end - span.start,
              "build_ms": run.spans.items[b].ms}
    if run.trace:
        timing["plan_ms"] = plan_ms(df)
    return CollectedRows(df.columns, rows), timing


def run_workload(run: Run) -> dict:
    run.start_spark()
    registry = run.load_registry()
    sf_dir, run.inputs = gen.gen_tables(run.work, run.seed, near_dup_share=NEAR_DUP_SHARE, **SIZES)
    oracle = Oracle(sf_dir, registry)
    root = run.spans.open(run.workload)

    outputs: list[tuple[str, CollectedRows | None]] = []
    warm = run.spans.open("warmup", root)
    for name in CORPUS:
        outputs.append((name, execute(run, registry, sf_dir, name, warm)[0]))
    run.spans.close(warm)
    run.mark_setup_done()

    order_rng = gen.rng_for(run.seed, "order")
    timed = run.spans.open("timed", root)
    t_end = time.time() + run.seconds
    ops: list[tuple[str, dict]] = []
    # Whole passes only, so every query weighs the same, and at least
    # MIN_PASSES: the first passes after the cold one still run faster each
    # time, a pass count that flips between runs would show as spread, and
    # the median of three passes sets aside one slowed by a burst of load
    # from outside the process.
    pass_walls: list[float] = []
    while len(pass_walls) < MIN_PASSES or time.time() < t_end:
        t_pass = time.time()
        for i in order_rng.permutation(len(CORPUS)):
            out, timing = execute(run, registry, sf_dir, CORPUS[i], timed)
            outputs.append((CORPUS[i], out))
            if out is not None:
                ops.append((CORPUS[i], timing))
        pass_walls.append(time.time() - t_pass)
    window_s = run.spans.close(timed).ms / 1000.0

    chk = run.spans.open("check", root)
    for name, out in outputs:
        if out is None:
            run.tally.record(False, f"{name}: raised")
            continue
        errs = oracle.check(name, out)
        run.tally.record(not errs, f"{name}: {errs[:2]}")
    run.spans.close(chk)
    run.spans.close(root)

    lat = [t["wall_s"] for _, t in ops]
    qpm = 60.0 * len(ops) / window_s
    e2e = {
        # per-query latency of a whole pass (pass wall over its queries), so
        # every query in the mix moves it, not only the one whose single
        # latency sits in the middle
        "latency_p50_s": median([w / len(CORPUS) for w in pass_walls]),
        "throughput_per_s": len(ops) / window_s,
    }
    named = {
        "queries_per_min": (qpm, "1/min", len(ops)),
        "query_p50_s": (median(lat), "s", len(lat)),
    }
    if len(lat) >= 100:
        named["query_p90_s"] = (percentile(lat, 90), "s", len(lat))
    run.inputs["timed_passes"] = len(pass_walls)

    layer: dict[str, float] = {}
    if run.trace:
        run.stop_spark()
        stats = parse_event_log(run.event_log(), [(n, t["start"], t["end"]) for n, t in ops])
        for (_, t), op in zip(ops, stats):
            run.spans.add_spark(t["span"], op)
        layer.update(layer_from_ops(stats))
        layer["queries.build_ms"] = median([t["build_ms"] for _, t in ops])
        layer["queries.plan_ms"] = median([t["plan_ms"] for _, t in ops])
        for name in CORPUS:
            mine = [t for n, t in ops if n == name]
            layer[f"q.{name}.wall_s"] = median([t["wall_s"] for t in mine])
            layer[f"q.{name}.plan_ms"] = median([t["plan_ms"] for t in mine])
            layer[f"q.{name}.cpu_ms"] = median([s.counts["cpu_ms"] for s in stats if s.name == name])
    return {"e2e": e2e, "named": named, "layer": layer}

