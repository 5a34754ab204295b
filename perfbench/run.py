"""KG-construction benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 6 --trace 0

Generates the workload's corpus from ``--seed`` (``workloads.py``),
computes the DuckDB ``kg`` oracle for it (untimed), then runs
``plans.pipeline.materialize_kg`` on ``local[nproc]`` to a collected KG.
Every collected KG is compared with the oracle (``gate.py``); an
operation that raises or differs counts as failed.

``--trace 0`` reports the end-to-end metrics:

- ``kg_s``: median seconds from the call to a collected KG, over the
  operations of a ``--seconds`` window (at least three). Plan memos
  and the Python workers' kernel memos stay warm; ``release_caches()``
  and ``clearCache()`` run before each operation, untimed, so no
  persisted KG is handed back;
- ``turns_per_s``: input turns / ``kg_s``;
- ``setup_s``: median of ``SETUPS`` set-ups, each a fresh application's
  session start plus its first, cold build and run (cold plan memos,
  new Python workers). The first also launches the JVM and compiles
  the hot paths; the second restarts the application on that JVM. Two
  is what the run-time budget allows: the first KG in a new JVM alone
  costs about as much as three warm builds;
- ``worker_rss_mb``: peak summed RSS of the PySpark Python worker
  processes, sampled from ``/proc`` after each operation.

``--trace 1`` reports the per-layer metrics (``layers.py``), the
checkpointed build, and the cold and warm plan-build times, and writes
every span to ``perfbench/out/trace-<workload>-<seed>.json``.

The session is pinned: ``local[nproc]``, ``SPARK_DRIVER_MEM=3g``, and
``SPARK_LOCAL_DIRS``/``TMPDIR`` inside ``perfbench/work`` (removed at
exit); ``PYTHONPATH`` names the repository root so workers import the
package. The configuration is printed to standard error.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")

SETUPS = 2
MIN_OPS = 3
DRIVER_MEM = "3g"


def declared(kind: str) -> dict[str, str]:
    """{name: unit} of the ``kind`` metrics (``end_to_end`` or
    ``per_layer``) that ``BENCHMARK.json`` declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def emit(metrics: dict, units: dict, attempted: int, failed: int) -> str:
    """The result line; ``metrics`` must name exactly the declared set."""
    if set(metrics) != set(units):
        raise ValueError(f"metric names {sorted(metrics)} != declared {sorted(units)}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    )


def _descendants() -> dict[int, bytes]:
    """{pid: cmdline} of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    cmd: dict[int, bytes] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd[int(d)] = f.read()
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out[pid] = cmd[pid]
            todo.append(pid)
    return out


def worker_rss_mb() -> float:
    """Summed RSS of this process's PySpark Python worker descendants
    (the ``pyspark.daemon`` and the workers it forks)."""
    kb = 0
    for pid, cmd in _descendants().items():
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next(int(l.split()[1]) for l in f if l.startswith("VmRSS:"))
            except (OSError, StopIteration):
                pass
    return kb / 1024


class Bench:
    """One run's session, oracle and operation bookkeeping."""

    def __init__(self, corpus: str, oracle, cores: int, tmp: str):
        self.corpus = corpus
        self.oracle = oracle
        self.cores = cores
        self.tmp = tmp
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.rss_peak = 0.0
        self.last_kg = None

    def start(self, app: str) -> None:
        from cross_sentence_relation_extraction_idepnn_spark.session import get_spark

        self.spark = get_spark(
            app,
            cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            },
        )

    def stop(self) -> None:
        from cross_sentence_relation_extraction_idepnn_spark.session import release_caches

        if self.spark is not None:
            release_caches()
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process
        they started has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            gw.proc.wait(timeout=60)
        deadline = time.time() + 60
        while _descendants() and time.time() < deadline:
            time.sleep(0.2)

    def reset(self) -> None:
        """Untimed: drop the persisted KG memo and every cached block."""
        from cross_sentence_relation_extraction_idepnn_spark.session import release_caches

        release_caches()
        self.spark.catalog.clearCache()

    def kg(self, **kwargs) -> tuple[float, float]:
        """One operation: ``materialize_kg`` to a collected KG, checked
        against the oracle. Returns (seconds to the returned lazy KG,
        seconds to the collected KG)."""
        from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import materialize_kg
        from gate import kg_matches

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            kg = materialize_kg(self.spark, self.corpus, **kwargs)
            t1 = time.perf_counter()
            pdf = kg.toPandas()
            t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return float("nan"), float("nan")
        if not kg_matches(pdf, self.oracle):
            sys.stderr.write(f"perfbench: KG differs from the oracle ({kwargs})\n")
            self.failed += 1
        self.last_kg = pdf
        self.rss_peak = max(self.rss_peak, worker_rss_mb())
        return t1 - t0, t2 - t0

    def setup(self, app: str) -> tuple[float, float]:
        """Stop the running session (untimed), then time a fresh
        application's start plus its first, cold build and run; returns
        (build s, total s)."""
        self.stop()
        t0 = time.perf_counter()
        self.start(app)
        build, _ = self.kg()
        return build, time.perf_counter() - t0

    def window(self, seconds: float) -> tuple[list[float], list[float]]:
        """Timed operations until ``seconds`` have passed (at least
        ``MIN_OPS``); returns (build times, KG times)."""
        builds, times = [], []
        t_end = time.perf_counter() + seconds
        while len(times) < MIN_OPS or time.perf_counter() < t_end:
            self.reset()
            b, t = self.kg()
            builds.append(b)
            times.append(t)
        return builds, times


def end_to_end(b: Bench, seconds: float, n_turns: int) -> dict:
    setups = [b.setup(f"perfbench_setup{i}")[1] for i in range(SETUPS)]
    _, times = b.window(seconds)
    sys.stderr.write(f"perfbench: setups {setups} kg {times}\n")
    kg_s = statistics.median(times)
    return {
        "kg_s": kg_s,
        "turns_per_s": n_turns / kg_s,
        "setup_s": statistics.median(setups),
        "worker_rss_mb": b.rss_peak,
    }


def traced(b: Bench, seconds: float, tr, work: str) -> dict:
    import layers

    with tr.span("setup"):
        build_cold, _ = b.setup("perfbench_trace")
    with tr.span("kg_window"):
        builds, times = b.window(seconds)
    b.reset()
    with tr.span("layers"):
        m = layers.layer_metrics(b.spark, b.corpus, tr, work)
    m["pipeline.build_cold_s"] = build_cold
    m["pipeline.build_warm_s"] = statistics.median(builds)
    m["pipeline.layer_sum_ratio"] = layers.layer_sum_ratio(m, times)

    warehouse = os.path.join(work, "warehouse")
    fast_kg = b.last_kg
    b.reset()
    with tr.span("checkpoint.build"):
        b.kg(warehouse=warehouse)
    m["checkpoint.build_s"] = tr.seconds("checkpoint.build")
    with open(os.path.join(warehouse, "_meta.jsonl")) as f:
        m["checkpoint.write_s"] = sum(json.loads(line)["wall_sec"] for line in f)
    m["checkpoint.bytes"] = sum(
        os.path.getsize(os.path.join(r, n)) for r, _, ns in os.walk(warehouse) for n in ns
    )
    from gate import frames_equal

    if not frames_equal(b.last_kg, fast_kg):
        sys.stderr.write("perfbench: checkpointed KG differs from the fast KG\n")
        b.failed += 1
    b.reset()
    with tr.span("checkpoint.resume"):
        b.kg(warehouse=warehouse)
    m["checkpoint.resume_s"] = tr.seconds("checkpoint.resume")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import cross_sentence_relation_extraction_idepnn_spark  # noqa: F401
    except ImportError as exc:
        sys.stderr.write(f"perfbench: the KG package is not importable from {ROOT}: {exc}\n")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}\n")
        return 2
    w = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{w.name}-{args.seed}-{os.getpid()}")
    config = {
        "cores": cores,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": ROOT,
        "workload": vars(w),
    }
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": config["SPARK_LOCAL_DIRS"],
            "TMPDIR": config["TMPDIR"],
        }
    )
    os.makedirs(config["TMPDIR"], exist_ok=True)
    sys.stderr.write(f"perfbench: config {json.dumps(config)}\n")

    import pyarrow.parquet as pq

    from gate import oracle_kg

    b = None
    try:
        corpus = workloads.write_corpus(w, args.seed, os.path.join(work, "corpus"))
        n_turns = workloads.n_turns(pq.read_table(os.path.join(corpus, "documents.parquet")))
        t0 = time.perf_counter()
        oracle = oracle_kg(corpus)
        sys.stderr.write(f"perfbench: oracle {time.perf_counter() - t0:.2f} s\n")
        b = Bench(corpus, oracle, cores, config["TMPDIR"])
        if args.trace:
            from layers import Tracer

            tr = Tracer(w.name, args.seed)
            with tr.span("run"):
                metrics = traced(b, args.seconds, tr, work)
            tr.dump(os.path.join(OUT, f"trace-{w.name}-{args.seed}.json"), config)
        else:
            metrics = end_to_end(b, args.seconds, n_turns)
        line = emit(
            metrics, declared("per_layer" if args.trace else "end_to_end"),
            b.attempted, b.failed,
        )
    finally:
        if b is not None:
            b.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass  # another run's work directory is still there
    sys.stdout.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
