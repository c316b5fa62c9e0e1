"""Layered benchmark for the operator library and the SparkAI engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload ops_sf0.01 --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/NOTES.md):

- ``ops_sf0.1`` / ``ops_sf0.01``: the frozen operator list, each op built
  and run to the noop sink, in a seed-permuted order per pass;
- ``sparkai_session``: scripted ``SparkAI.run`` sessions over sf0.1
  frames, with repeated questions (code-cache hits) and scripted wrong
  first answers (error-correction retries).

One process, one closed-loop caller, ``local[<cpus>]`` with as many
shuffle partitions as cores. The inputs are the test corpus copied into
``perfbench/corpus``; ``--seed`` draws the op and question orders.
Spark's files and the engine's code caches go to a temporary directory
under ``.perfbench/``. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones; the last stdout
line is the JSON result, the line before it a detail record.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"


@dataclass
class Context:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    sf_dir: str = ""
    spark: object = None
    frames: dict = field(default_factory=dict)


def _spark_env(ctx: Context) -> dict[str, str]:
    """Process env and confs that keep Spark's files in the run's
    temporary directory and let Python workers import the package."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }


def set_up(ctx: Context, workload) -> dict[str, float]:
    """Boot once, then set the session up SETUP_REPEATS times.

    ``boot_s``: imports (package and operator registry), JVM launch and
    the first SparkSession -- paid once per process. A session set-up is
    stopping the session, ``get_spark`` + ``all_ops()`` + loading the
    workload's frames; the median of the repeats is kept.
    ``setup_s = boot_s + median(session set-ups)``. The last session is
    the fresh one the first pass runs in.
    """
    confs = _spark_env(ctx)
    t0 = time.perf_counter()
    sys.path.insert(0, ctx.root)
    from pyspark import SparkConf, SparkContext

    from my_polars_ai_spark.operators import all_ops
    from my_polars_ai_spark.session import get_spark

    t_import = time.perf_counter()
    all_ops()
    t_registry = time.perf_counter()
    SparkContext._ensure_initialized(conf=SparkConf().setAll(list(confs.items())))
    master = f"local[{ctx.cpus}]"

    def session():
        return get_spark("perfbench", master=master, shuffle_partitions=ctx.cpus, extra_confs=confs)

    t_jvm = time.perf_counter()
    spark = session()
    boot_s = time.perf_counter() - t0
    repeats, get_spark_s = [], []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        spark.stop()
        spark = session()
        t_session = time.perf_counter()
        all_ops()
        ctx.frames = workload.load_frames(spark, ctx.sf_dir)
        repeats.append(time.perf_counter() - t)
        get_spark_s.append(t_session - t)
    ctx.spark = spark
    return {
        "setup_s": boot_s + statistics.median(repeats),
        "boot_s": boot_s,
        "session.import_s": t_import - t0,
        "operators.registry_s": t_registry - t_import,
        "session.jvm_launch_s": t_jvm - t_registry,
        "session.get_spark_s": statistics.median(get_spark_s),
        "session.setup_repeats_s": repeats,
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM that PySpark launched (it exits when
    its stdin closes), and wait until it has ended."""
    if spark is not None:
        spark.stop()
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec: dict, trace: bool, out: dict, measured: dict) -> dict:
    """The result object: exactly the metrics BENCHMARK.json lists for
    this mode, with their units. A layer the workload never calls reads
    0; any other missing metric is a benchmark bug and raises."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    idle = out.get("idle_layers", ())
    metrics = {}
    for m in wanted:
        name = m["name"]
        value = measured[name] if name in measured or not name.startswith(idle) else 0.0
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-ops", action="store_true", help="ops workloads: time and check all 62 headline ops")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "my_polars_ai_spark", "__init__.py")):
        print("perfbench: run from the repository root; my_polars_ai_spark/ is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import aiload
    import opsload

    workloads = {**opsload.WORKLOADS, **aiload.WORKLOADS}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of {sorted(workloads)}", file=sys.stderr)
        return 2
    workload = workloads[args.workload]
    if args.all_ops and isinstance(workload, opsload.OpsWorkload):
        workload = opsload.OpsWorkload(workload.sf, opsload.HEADLINE)
    spec = load_spec(root)

    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    ctx = Context(
        root=root,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=len(os.sched_getaffinity(0)),
        sf_dir=workload.sf_dir,
    )
    try:
        setup = set_up(ctx, workload)
        out = workload.run(ctx)
    finally:
        _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    measured = {**setup, **out["metrics"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "cpus": ctx.cpus,
        "wall_s": round(time.perf_counter() - _T_PROCESS, 3),
        "failed_frac": out["failed"] / out["attempted"],
        **{k: v for k, v in measured.items() if k not in ("setup_s",)},
        **out.get("detail", {}),
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result_line(spec, ctx.trace, out, measured)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
