#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <ingest|serve_live|gates> --seed <n>
        --seconds <s> --trace <0|1> [--sf-dir <dir>]

Builds the program together with the harness in perfbench/ (sbt, offline;
reused while the sources are unchanged), runs the workload in one JVM on
local[nproc], checks the program's outputs, and writes a run record to its
own directory under .bench_build/runs/: result.json, env.json (machine
window: CPU steal, loadavg, pressure, whole-disk I/O, generator lateness)
and, when traced, spans.jsonl. Prints each metric as `name value unit`, then
one JSON line: {"correct", "attempted", "failed", "metrics"} — the
end-to-end metrics untraced, the per-layer metrics traced. Exits 1 when an
output check fails and 2 when the run cannot be set up.

A traced run of a live workload also runs the event gates over an events
table generated from the seed, and drains the same bursts in a second JVM at
one core. The gates workload reads the sf0.1 tables from --sf-dir. Gate row
counts are checked against DuckDB running each gate's oracle SQL.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# the listed workloads must finish within 180 s; one gates pass takes longer
RUN_LIMIT_S = {"gates": 900}
EVENTS_ROWS = 100_000
# offline: resolve only from the local caches and repositories file
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fatal(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile program + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fatal(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                rec = json.load(fh)
            if rec.get("stamp") == stamp:
                return rec["classpath"]
        env = dict(os.environ)
        env.setdefault("SBT_OPTS", SBT_OPTS)
        env.setdefault("COURSIER_MODE", "offline")
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=840)
            log.write(r.stdout)
        cp = [l.strip() for l in r.stdout.splitlines()
              if ".jar" in l and not l.startswith("[")]
        if r.returncode != 0 or not cp:
            fatal(f"build failed (see {os.path.relpath(log_path, ROOT)}):\n"
                  + r.stdout[-3000:])
        with open(cp_file, "w") as fh:
            json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
        return cp[-1]


# --- machine window --------------------------------------------------------

def read(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def whole_disks():
    try:
        return {d for d in os.listdir("/sys/block")
                if not d.startswith(("loop", "ram", "zram"))}
    except OSError:
        return set()


def machine_sample():
    s = {"t": time.time()}
    stat = read("/proc/stat")
    if stat:
        f = [int(x) for x in stat.splitlines()[0].split()[1:]]
        s["cpu_total_ticks"], s["cpu_steal_ticks"] = sum(f), (f[7] if len(f) > 7 else 0)
    la = read("/proc/loadavg")
    if la:
        s["loadavg"] = [float(x) for x in la.split()[:3]]
    for res in ("cpu", "io", "memory"):
        txt = read(f"/proc/pressure/{res}")
        for line in (txt or "").splitlines():
            kind, *kv = line.split()
            d = dict(x.split("=") for x in kv)
            s[f"{res}_{kind}_avg10"] = float(d["avg10"])
            s[f"{res}_{kind}_total_us"] = int(d["total"])
    disks = whole_disks()
    sec_r = sec_w = io_ms = 0
    for line in (read("/proc/diskstats") or "").splitlines():
        f = line.split()
        if len(f) >= 13 and f[2] in disks:
            sec_r += int(f[5]); sec_w += int(f[9]); io_ms += int(f[12])
    s.update(disk_devices=sorted(disks), disk_sectors_read=sec_r,
             disk_sectors_written=sec_w, disk_io_ms=io_ms)
    return s


def window(a, b, lateness):
    dt = b["t"] - a["t"]
    w = {"seconds": dt, "start": a, "end": b}
    if "cpu_total_ticks" in a and b["cpu_total_ticks"] > a["cpu_total_ticks"]:
        w["steal_pct"] = 100.0 * (b["cpu_steal_ticks"] - a["cpu_steal_ticks"]) / (
            b["cpu_total_ticks"] - a["cpu_total_ticks"])
    for k in a:
        if k.endswith("_total_us") and k in b:
            w[k.replace("_total_us", "_stall_pct")] = 100.0 * (b[k] - a[k]) / 1e6 / dt
    for k in ("disk_sectors_read", "disk_sectors_written", "disk_io_ms"):
        w[k] = b[k] - a[k]
    if lateness:
        w["gen_lateness_ms"] = {"n": len(lateness), "p50": statistics.median(lateness),
                                "max": max(lateness)}
    dirty = []
    if w.get("steal_pct", 0) > 2.0:
        dirty.append(f"cpu steal {w['steal_pct']:.2f}%")
    if w.get("io_full_stall_pct", 0) > 10:
        dirty.append(f"io full stall {w['io_full_stall_pct']:.1f}%")
    if w.get("memory_some_stall_pct", 0) > 5:
        dirty.append(f"memory stall {w['memory_some_stall_pct']:.1f}%")
    if lateness and max(lateness) > 250:
        dirty.append(f"generator ran {max(lateness):.0f} ms late")
    w["dirty"] = dirty
    return w


# --- inputs and JVMs --------------------------------------------------------

def make_events(path, seed):
    """The events table the event gates read, drawn from the seed: the
    layout and distributions of the program's sf0.1 events table (ids in
    order, timestamps sorted over January 2024, 1,500 users, five event
    types, exponential values of mean 50, props {"k": 0..99})."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    n = EVENTS_ROWS
    t0 = 1704067200 * 1_000_000
    span = 30 * 86400 * 1_000_000
    types = ["click", "error", "purchase", "signup", "view"]
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(sorted(t0 + rng.randrange(span) for _ in range(n)),
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(types) for _ in range(n)]),
        "value": pa.array([round(rng.expovariate(1 / 50), 2) for _ in range(n)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)]),
    }), path)


def java(cp, main_args, env, tmp, log_path, deadline):
    """Run perfbench.Main in its own JVM and process group; the exit code,
    or None when it overran `deadline` and was killed."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap, so GC pacing does not depend on when G1 grows it. C1
    # only: with C2, the forks' per-batch code was still being compiled 40 s
    # into a run. C1 alone defaults to a 48 MB code cache, which filled
    # about 28 s in and disabled the compiler, so the cache is raised.
    cmd = (["java", "-Xms1536m", "-Xmx1536m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:+ExplicitGCInvokesConcurrent",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "perfbench.Main"] + main_args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def log_tail(log_path):
    with open(log_path, errors="replace") as fh:
        return fh.read()[-4000:]


# --- gates oracle ----------------------------------------------------------

def check_gates(result, data_dir):
    """Each gate's row count must equal DuckDB running its oracle SQL over the
    same tables (views set up as tools/check.py does)."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    want = {name: len(con.execute(sql).fetchall())
            for name, sql in result["info"].pop("oracle_sql").items()}
    result["info"]["oracle_rows"] = want
    for g in result["info"]["gates"]:
        if g["error"] is None and want[g["name"]] != g["rows"]:
            result["failures"].append(f"gate {g['name']} pass {g['pass']}: "
                                      f"spark {g['rows']} rows, oracle {want[g['name']]}")
    result["failed"] = len(result["failures"])
    result["correct"] = result["failed"] == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir")
    a = ap.parse_args()
    # on SIGTERM, unwind so that a running JVM is killed, not left behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        fatal("no BENCHMARK.json at the checkout root")
    listed = {w["name"] for w in spec["workloads"]}
    if a.workload not in listed | {"gates"}:
        fatal(f"unknown workload {a.workload!r}")
    if a.workload == "gates" and not a.sf_dir:
        fatal("the gates workload needs --sf-dir <sf0.1 parquet dir>")
    live_traced = a.workload != "gates" and a.trace == 1

    cp = classpath()
    t_start = time.time()  # the run limit starts once the program is built
    run_id = (f"{a.workload}-s{a.seed}-t{a.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}")
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.makedirs(env["SPARK_GRAFT_SCRATCH"])
    common = ["--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--run-id", run_id]
    args = ["--workload", a.workload, "--out", run_dir] + common
    gates_dir = a.sf_dir
    if live_traced:
        gates_dir = os.path.join(run_dir, "data")
        os.makedirs(gates_dir)
        make_events(os.path.join(gates_dir, "events.parquet"), a.seed)
        args += ["--events-dir", gates_dir]
    elif a.sf_dir:
        args += ["--sf-dir", a.sf_dir]

    limit = t_start + RUN_LIMIT_S.get(a.workload, 170)
    before = machine_sample()
    log_path = os.path.join(run_dir, "jvm.log")
    rc = java(cp, args, env, tmp, log_path, limit)
    res_path = os.path.join(run_dir, "result.json")
    local1 = None
    if rc == 0 and live_traced:
        # the same burst at one core, in a session of its own
        out1 = os.path.join(run_dir, "local1")
        rc1 = java(cp, ["--workload", "local1", "--shape", a.workload,
                        "--out", out1] + common,
                   {**env, "SPARK_GRAFT_CPUS": "1"}, tmp,
                   os.path.join(run_dir, "local1.log"), limit)
        if rc1 != 0:
            fatal(f"local[1] drain {'timed out' if rc1 is None else f'exited {rc1}'}; "
                  f"log tail:\n{log_tail(os.path.join(run_dir, 'local1.log'))}")
        with open(os.path.join(out1, "result.json")) as fh:
            local1 = json.load(fh)
    after = machine_sample()
    for d in ("work", "scratch", "tmp", os.path.join("local1", "work")):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if rc != 0 or not os.path.exists(res_path):
        fatal(f"run {'timed out' if rc is None else f'exited {rc}'}; "
              f"log tail ({os.path.relpath(log_path, ROOT)}):\n{log_tail(log_path)}")
    with open(res_path) as fh:
        result = json.load(fh)
    if local1:
        result["layers"].update(local1["layers"])
    if "gates" in result["info"]:
        check_gates(result, gates_dir)
    if live_traced:
        shutil.rmtree(gates_dir)
    env_rec = window(before, after, result.pop("gen_lateness_ms"))
    env_rec.update(run=run_id, workload=a.workload, seed=a.seed,
                   run_seconds=a.seconds, trace=a.trace, cpus=os.cpu_count())
    lat = env_rec.get("gen_lateness_ms")
    if lat:
        result["layers"]["gen.lateness_p50_ms"] = {"value": lat["p50"], "unit": "ms"}
        result["layers"]["gen.lateness_max_ms"] = {"value": lat["max"], "unit": "ms"}
    with open(os.path.join(run_dir, "env.json"), "x") as fh:
        json.dump(env_rec, fh, indent=1)
    with open(res_path, "w") as fh:
        json.dump(result, fh, indent=1)
    if a.workload == "gates":
        wanted = list(result["layers"] if a.trace else result["metrics"])
    else:
        wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    have = {**result["metrics"], **result["layers"]}
    missing = [m for m in wanted if m not in have]
    if missing:
        fatal(f"run did not produce {', '.join(missing)}")

    attempted, failed = result["attempted"], result["failed"]
    for k, m in have.items():
        n = f" (n={m['n']})" if "n" in m else ""
        print(f"{k} {m['value']:.6g} {m['unit']}{n}")
    print(f"error_ratio {failed / attempted:.6g} failed/attempted "
          f"({failed}/{attempted})")
    for f in result["failures"][:10]:
        print(f"FAILED: {f}")
    if env_rec["dirty"]:
        print(f"DIRTY WINDOW: {'; '.join(env_rec['dirty'])}", file=sys.stderr)
    print(f"run record: {os.path.relpath(run_dir, ROOT)}")
    print(json.dumps({"correct": result["correct"], "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": have[k]["value"], "unit": have[k]["unit"]}
                                  for k in wanted}}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
