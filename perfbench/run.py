#!/usr/bin/env python3
"""The repository benchmark: two seeded workloads against the public
API of ``gpml2pvjson_js_spark``, one command.

    python3 perfbench/run.py --workload bulk|doc --seed N \\
        --seconds S --trace 0|1

Run it from the root of a checkout. It pins its own environment (see
``configure_env``), builds its inputs from ``--seed``, runs the
workload's operation in a closed loop with one client until
``--seconds`` of operation time have passed (at least one operation),
checks every output against ``perfbench/expected.json``, and prints one
summary line with every metric by name and unit, then, as the last
line, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import time
import traceback

from tracing import LAYERS, STAGE_LAYER, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gpml2pvjson_js_spark"
EXPECTED = os.path.join(HERE, "expected.json")

# bulk corpus size: every PAGE_MIX kind ~65 times plus one giant page
# per 200. Each run also pays the cold JVM and Catalyst warm-up, and a
# full round of runs must fit in an hour: on 4 cores a bulk run takes
# ~65 s at 1000 pages, ~75 s at 2000 and ~85 s at 5000; see README.md.
BULK_PAGES = 1000
DRIVER_MEM = "3g"
WORKLOADS = ("bulk", "doc")

# seeded host names in corpus urls; outputs are compared with them
# folded to one placeholder, so one expected digest holds for every seed
_SEEDED_HOST = re.compile(r"https://(?:hot|site\d+)\.example/")


def configure_env(work: str) -> None:
    """Pin everything the program reads from the environment: Python
    workers must import the package from the checkout, the CPU count
    is this host's, driver memory stays well under host RAM, and all
    scratch lands inside the benchmark's work directory."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)


# -- inputs -------------------------------------------------------------

def bulk_pages(n_pages: int, seed: int):
    """The rows ``corpus.pages_df(spark, n_pages, seed)`` yields, built
    on the driver by the same pure ``corpus.build_page``, as Arrow."""
    import pyarrow as pa

    from gpml2pvjson_js_spark.corpus import build_page
    rows = [build_page(i, seed) for i in range(n_pages)]
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


def write_pages(table, path: str, n_files: int) -> None:
    """Several files, so the scan has a split per core like the
    distributed ``pages_df`` has a partition per core."""
    import pyarrow.parquet as pq
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k, off in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(off, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def doc_names() -> list[str]:
    from gpml2pvjson_js_spark.corpus import FIXTURES
    return sorted(FIXTURES) + ["giant"]


def doc_stream(seed: int) -> tuple[list[str], bytes, str]:
    """(fixture order, concatenated GPML stream, pathway IRI)."""
    from gpml2pvjson_js_spark import corpus
    order = doc_names()
    random.Random(seed).shuffle(order)
    text = "\n".join(corpus.gpml_giant() if name == "giant"
                     else corpus.FIXTURES[name]() for name in order)
    return order, text.encode("utf-8"), \
        f"https://cli{seed % 97}.example/stream/{seed}"


# -- output checks ------------------------------------------------------

def sha256_lines(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def stage_lines(snapshot_root: str, stage: str) -> list[str]:
    """Every committed row of a snapshot stage as one normalized JSON
    line, read from the parquet files directly (not through Spark).

    A JSON-LD document is compared as parsed JSON with sorted keys:
    the order of its ``entitiesById`` keys follows partition order,
    which depends on the url hash and so on the seed."""
    import pyarrow.parquet as pq
    lines = []
    for f in glob.glob(os.path.join(snapshot_root, stage, "data", "**",
                                    "*.parquet"), recursive=True):
        for row in pq.read_table(f).to_pylist():
            row.pop("bucket", None)
            if "jsonld" in row:
                row["jsonld"] = json.loads(row["jsonld"])
            lines.append(_SEEDED_HOST.sub(
                "https://D/", json.dumps(row, sort_keys=True,
                                         ensure_ascii=False, default=str)))
    return lines


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def check_bulk(snapshot_root: str, expected: dict) -> dict:
    """Digests of the canonical triples and JSON-LD documents; empty
    output is a failure, never a vacuous pass."""
    got = {}
    for stage in ("canonical_triples", "documents"):
        lines = stage_lines(snapshot_root, stage)
        got[stage] = {"rows": len(lines), "sha256": sha256_lines(lines)}
    want = expected.get("bulk")
    ok = all(v["rows"] > 0 for v in got.values()) and got == want
    return {"ok": ok, "got": got}


def check_doc(order: list[str], iri: str, docs: list[str],
              expected: dict) -> dict:
    got = {name: hashlib.sha256(doc.replace(iri, "IRI").encode(
        "utf-8")).hexdigest() for name, doc in zip(order, docs)}
    want = expected.get("doc", {})
    ok = (len(docs) == len(order) and all(docs)
          and all(want.get(name) == h for name, h in got.items()))
    return {"ok": ok, "got": got}


# -- host figures -------------------------------------------------------

def host_sample() -> dict:
    """CPU steal ticks and per-disk busy milliseconds from /proc."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    busy = {}
    try:
        with open("/proc/diskstats") as f:
            for line in f:
                p = line.split()
                if len(p) > 12 and not p[2].startswith(("loop", "ram")):
                    busy[p[2]] = int(p[12])
    except OSError:
        pass
    return {"t": time.monotonic(), "total": sum(cpu),
            "steal": cpu[7] if len(cpu) > 7 else 0, "busy": busy}


def host_window(a: dict, b: dict) -> dict:
    """Hypervisor steal % of all CPU time and the busiest disk's busy %
    of wall time between two samples."""
    wall_ms = max((b["t"] - a["t"]) * 1e3, 1e-9)
    disk = max((b["busy"][d] - a["busy"].get(d, b["busy"][d])
                for d in b["busy"]), default=0)
    return {
        "steal_pct": 100.0 * (b["steal"] - a["steal"])
        / max(b["total"] - a["total"], 1),
        "disk_busy_pct": 100.0 * disk / wall_ms,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(
            int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and
    every live process it started, each including its reaped
    children."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes of this process and every
    process it started (JVM, Python workers)."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- session ------------------------------------------------------------

def start_session():
    from gpml2pvjson_js_spark.session import get_spark
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    # the traced read-back needs every job and stage of a run kept
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     extra_conf={"spark.ui.retainedJobs": "100000",
                                 "spark.ui.retainedStages": "100000"})


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started, killing any that outlive a grace period."""
    procs = descendants(os.getpid())
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway_proc is not None:
            gateway_proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                gateway_proc.wait(timeout=60)
            except Exception:
                gateway_proc.kill()
                gateway_proc.wait()
        deadline = time.monotonic() + 30
        while True:
            alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.2)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# -- workloads ----------------------------------------------------------

class Bulk:
    """One fresh batch job per operation: ``sources.read_pages`` over
    the seeded corpus, then ``Pipeline.run(resume=False)``."""

    span = ("pipeline", "run")

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.pages_path = None

    def make_inputs(self, k: int) -> None:
        path = os.path.join(self.work, f"pages{k}")
        n_files = 2 * len(os.sched_getaffinity(0))
        write_pages(bulk_pages(BULK_PAGES, self.seed), path, n_files)
        self.pages_path = path

    def op(self, spark, i: int) -> dict:
        from gpml2pvjson_js_spark.plans.pipeline import Pipeline
        from gpml2pvjson_js_spark.sources import pages as sources
        root = os.path.join(self.work, f"snapshots{i}")
        pipe = Pipeline(spark, sources.read_pages(spark, self.pages_path),
                        root)
        pipe.run(resume=False)
        return {"root": root, "pipe": pipe}

    def finish(self, out: dict, expected: dict) -> dict:
        manifests = out["pipe"].metrics()
        check = check_bulk(out["root"], expected)
        return {"check": check, "manifests": manifests,
                "pages": BULK_PAGES,
                "docs": manifests["documents"]["rows"],
                "triples": manifests["canonical_triples"]["rows"]}


class Doc:
    """One ``__main__.convert_bytes`` call per operation: the reference
    CLI's conversion of a seeded GPML stream, first call in a fresh
    session. The stream holds every fixture plus the giant pathway in
    seeded order, as ``cat *.gpml | python -m gpml2pvjson_js_spark``
    would pass it."""

    span = ("export", "exec")

    def __init__(self, seed: int):
        self.seed = seed
        self.order = self.stream = self.iri = None

    def make_inputs(self, k: int) -> None:
        self.order, self.stream, self.iri = doc_stream(self.seed)

    def op(self, spark, i: int) -> dict:
        from gpml2pvjson_js_spark import __main__ as cli
        return {"docs": cli.convert_bytes(spark, self.stream, self.iri)}

    def finish(self, out: dict, expected: dict) -> dict:
        docs = out["docs"]
        return {"check": check_doc(self.order, self.iri, docs, expected),
                "manifests": {}, "pages": 0, "docs": len(docs),
                "triples": 0}


def tail_s(samples: list[float]) -> float | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11]


def layer_metrics(tracer, wall_s: float, out: dict,
                  done: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    times = tracer.layer_times(wall_s)
    execs = tracer.executor_metrics()
    calls = tracer.py4j_calls()
    rows = dict.fromkeys(LAYERS, 0)
    for stage, man in done["manifests"].items():
        rows[STAGE_LAYER[stage]] += man["rows"]
    rows["sources"] = done["pages"]
    if not done["manifests"]:
        rows["export"] = done["docs"]
    for layer in LAYERS:
        m[f"{layer}.build_s"] = times[f"{layer}.build_s"]
        m[f"{layer}.exec_s"] = times[f"{layer}.exec_s"]
        for k, v in execs[layer].items():
            m[f"{layer}.{k}"] = v
        m[f"{layer}.rows_out"] = rows[layer]
        m[f"{layer}.py4j_calls"] = calls.get(layer, 0)
    man = done["manifests"]
    m.update({
        "pipeline.jobs": execs["pipeline"]["jobs"],
        "pipeline.executor_busy_s": tracer.executor_busy_s(),
        "pipeline.py4j_calls": calls.get("pipeline", 0),
        "session.py4j_releases": calls.get("release", 0),
        "pipeline.commit_write_s": sum(v["write_ms"]
                                       for v in man.values()) / 1e3,
        "pipeline.footer_s": sum(v["footer_ms"] for v in man.values()) / 1e3,
        "pipeline.overlap_s": times["pipeline.overlap_s"],
        "pipeline.unattributed_s": times["pipeline.unattributed_s"],
        "parse.quarantine_ratio": (man["quarantine"]["rows"]
                                   / max(man["mentions"]["rows"], 1)
                                   if man else 0.0),
        "linking.hit_ratio": (_linked_hits(out["root"])
                              / max(man["nodes"]["rows"], 1)
                              if man else 0.0),
        "trace.overhead_s": tracer.overhead_s(),
    })
    return m


def _linked_hits(snapshot_root: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_table(f, columns=["canonical_iri"])
               .column(0).drop_null().length()
               for f in glob.glob(os.path.join(
                   snapshot_root, "linked", "data", "**", "*.parquet"),
                   recursive=True))


def run(args, work: str, t_main: float) -> tuple[dict, str]:
    expected = load_expected()
    workload = (Bulk(work, args.seed) if args.workload == "bulk"
                else Doc(args.seed))
    spark = start_session()
    session_s = time.perf_counter() - t_main
    try:
        gen = []
        for k in range(3):
            t = time.perf_counter()
            workload.make_inputs(k)
            gen.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(gen)

        lat, cpu, failed, triples, traced = [], [], 0, 0, []
        h0 = host_sample()
        while True:
            i = len(lat)
            tracer = Tracer(spark) if args.trace else None
            t = time.perf_counter()
            try:
                if tracer is None:
                    c = tree_cpu_s()
                    out = workload.op(spark, i)
                else:
                    with tracer:
                        t = time.perf_counter()
                        c = tree_cpu_s()
                        with tracer.span(*workload.span):
                            out = workload.op(spark, i)
                lat.append(time.perf_counter() - t)
                cpu.append(tree_cpu_s() - c)
                done = workload.finish(out, expected)
            except Exception:
                traceback.print_exc()
                if len(lat) == i:
                    lat.append(time.perf_counter() - t)
                failed += 1
            else:
                triples += done["triples"]
                if not done["check"]["ok"]:
                    failed += 1
                    print(f"perfbench: output mismatch: "
                          f"{json.dumps(done['check']['got'])}",
                          file=sys.stderr)
                if tracer is not None:
                    traced.append(layer_metrics(tracer,
                                                lat[-1], out, done))
            if sum(lat) >= args.seconds:
                break
        host = host_window(h0, host_sample())
        rss = peak_rss_mb()
    finally:
        stop_session(spark)

    wall = statistics.median(lat)
    total = sum(lat)
    attempted = len(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (statistics.median(cpu) if cpu else 0.0, "s"),
    }
    tail = tail_s(lat)
    summary = [
        f"perfbench {args.workload} seed={args.seed} ops={attempted}:",
        f"setup_s={setup_s:.3f} s", f"wall_s={wall:.3f} s",
        f"cpu_s={e2e['cpu_s'][0]:.3f} s",
        (f"triples_per_s={triples / total:.1f} 1/s"
         if args.workload == "bulk" else "triples_per_s=n/a"),
        (f"doc_p50_s={wall:.3f} s" if args.workload == "doc"
         else "doc_p50_s=n/a"),
        (f"doc_tail_s={tail:.3f} s" if tail is not None else
         f"doc_tail_s=n/a ({attempted} sample(s), needs >= 11)"),
        f"error_rate={failed / attempted:.4f} ({failed}/{attempted})",
        f"steal_pct={host['steal_pct']:.2f} %",
        f"disk_busy_pct={host['disk_busy_pct']:.2f} %",
    ]
    if args.trace:
        layers = {k: statistics.mean(t[k] for t in traced)
                  for k in traced[0]} if traced else {}
        layers.update({
            "session.start_s": session_s,
            "session.peak_rss_mb": rss,
        })
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, "  ".join(summary)


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith("_ratio"):
        return "ratio"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    try:
        result, summary = run(args, work, t_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(summary)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
