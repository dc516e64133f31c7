#!/usr/bin/env python3
"""Layer-split benchmark for the graft engine: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark driver (sbt, offline), generates the inputs (DuckDB) and writes
one class-data-sharing archive per workload, all under perfbench/.work;
later runs reuse them while their sources are unchanged.

Workloads:
  analytics_x10      8 read-only catalog entries on the 10x star schema
  lakehouse_dml      seeded SQL DML/read stream through the snapshot catalog
  streaming_entries  4 streaming catalog entries

With --trace 0 the run prints the end-to-end metrics; with --trace 1 it
prints the per-layer metrics of a traced run (and writes spans.json).
Outputs are checked outside every timed window: catalog results against
the DuckDB oracle SQL (or a digest that must repeat), lakehouse reads
against a sequential in-memory model. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
LIB_RES = os.path.join(REPO, "src", "main", "resources")
SCALE_GEN = os.path.join(REPO, "tools", "scale_gen.py")
DATAGEN = os.path.join(HERE, "datagen.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = {
    # workload -> dataset it reads
    "analytics_x10": "x10",
    "lakehouse_dml": "sf0.01",
    "streaming_entries": "sf0.01",
}
# base scale that tools/scale_gen.py multiplies by ten for analytics_x10
X10_BASE_SF = 0.02
DATA_SEED = 42
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tree(*roots):
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
            continue
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return out


def run_bounded(cmd, deadline, input=None, **kw):
    """Runs cmd in its own process group; kills the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(input,
                                 timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RuntimeError(f"timed out: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build_fingerprint():
    return fingerprint(tree(LIB_SRC, LIB_RES, os.path.join(HERE, "src", "main"),
                            os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties"),
                            os.path.abspath(__file__)))


def build(deadline):
    """Compiles library + driver once per source fingerprint."""
    fp = build_fingerprint()
    meta = os.path.join(WORK, "build.json")
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        if m["fingerprint"] == fp:
            return fp, m["classpath"]
    log("building library and driver (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx3g")
    rc, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
         "export Runtime/fullClasspath"], deadline, cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    cps = [ln for ln in out.splitlines()
           if "scala-2.13/classes" in ln and ":" in ln and " " not in ln]
    jars = glob.glob(os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-*.jar"))
    if rc != 0 or not cps or len(jars) != 1:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise RuntimeError("build failed")
    # the packaged jar instead of the classes directory: class-data
    # sharing archives only classes that come from jars (cds_archives)
    classpath = ":".join(jars[0] if e.endswith("scala-2.13/classes") else e
                         for e in cps[-1].split(":"))
    with open(meta, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return fp, classpath


def data_root():
    """The inputs' directory, named by what they are made from."""
    import duckdb
    return os.path.join(WORK, "data", fingerprint(
        [DATAGEN, SCALE_GEN],
        f"{X10_BASE_SF} {DATA_SEED} duckdb {duckdb.__version__}"))


def prepare_data(deadline):
    """Generates the inputs once per generator fingerprint.

    sf0.001 (warm-up) and sf0.01 come from datagen.py; x10 is
    tools/scale_gen.py's ten-fold replication of a datagen.py base.
    """
    root = data_root()
    done = os.path.join(root, "DONE")
    if os.path.exists(done):
        return root
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    log("generating inputs (DuckDB)")
    for name, sf in (("sf0.001", 0.001), ("sf0.01", 0.01),
                     ("x10_base", X10_BASE_SF)):
        generate([DATAGEN, os.path.join(root, name), str(sf), str(DATA_SEED)],
                 deadline)
    # scale_gen.py reads a fixed source directory (its `SRC = ...` line);
    # run it with that line pointed at our base
    with open(SCALE_GEN) as f:
        src = f.read()
    src, n = re.subn(r'^SRC = "[^"]*"$',
                     f"SRC = {os.path.join(root, 'x10_base')!r}", src,
                     count=1, flags=re.M)
    if n != 1:
        raise RuntimeError("tools/scale_gen.py no longer has its SRC line")
    generate(["-", os.path.join(root, "x10"), "10"], deadline, stdin=src)
    shutil.rmtree(os.path.join(root, "x10_base"))
    open(done, "w").close()
    return root


def generate(args, deadline, stdin=None):
    rc, _, _ = run_bounded([sys.executable] + args, deadline, cwd=WORK,
                           input=None if stdin is None else stdin.encode(),
                           stdin=None if stdin is None else subprocess.PIPE,
                           stdout=subprocess.DEVNULL)
    if rc != 0:
        raise RuntimeError(f"input generation failed: {args}")


def java_cmd(classpath, cds, args):
    """The driver JVM; `cds` is its class-data-sharing flag."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            [cds, "-Xshare:auto", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-cp", classpath,
             "perfbench.Main"] + [str(a) for a in args])


def first_run():
    """True while the build, one of its archives or the inputs are still
    to be made."""
    meta = os.path.join(WORK, "build.json")
    if not (os.path.exists(meta) and
            os.path.exists(os.path.join(data_root(), "DONE"))):
        return True
    with open(meta) as f:
        fp = json.load(f)["fingerprint"]
    return fp != build_fingerprint() or not all(os.path.exists(os.path.join(WORK, "cds", fp, f"{w}.jsa"))
                   for w in WORKLOADS)


def cds_archives(build_fp, classpath, data, cores, deadline):
    """One class-data-sharing archive per workload and build, so that
    every measured run maps the same loaded classes at start-up. Each is
    written by a short training run of its workload on the warm-up
    inputs, before any measured run; the training runs are independent
    and run side by side.
    """
    cds = os.path.join(WORK, "cds", build_fp)
    for old in glob.glob(os.path.join(WORK, "cds", "*")):
        if old != cds:
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(cds, exist_ok=True)
    warm = os.path.join(data, "sf0.001")

    def train(w):
        jsa = os.path.join(cds, f"{w}.jsa")
        out = os.path.join(WORK, "runs", f"cds-{w}")
        shutil.rmtree(out, ignore_errors=True)
        rc, _, _ = run_bounded(
            java_cmd(classpath, f"-XX:ArchiveClassesAtExit={jsa}.tmp",
                     [w, 0, 1, 0, warm, warm, out, cores]),
            deadline, cwd=os.path.join(WORK, "jvm"),
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(out, ignore_errors=True)
        if rc != 0 or not os.path.exists(f"{jsa}.tmp"):
            raise RuntimeError(f"training run of {w} failed ({rc})")
        os.rename(f"{jsa}.tmp", jsa)

    todo = [w for w in sorted(WORKLOADS)
            if not os.path.exists(os.path.join(cds, f"{w}.jsa"))]
    if todo:
        log(f"writing the class-data-sharing archives of {', '.join(todo)}")
        with concurrent.futures.ThreadPoolExecutor(len(todo)) as pool:
            list(pool.map(train, todo))
    return cds


# ---- correctness of catalog results (outside every timed window) ----

def table_ref(data_dir, t):
    p = os.path.join(data_dir, f"{t}.parquet")
    return f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"


def sorted_rows(con, rel_sql):
    rel = con.sql(rel_sql)
    cols = sorted(rel.columns)
    sel = ", ".join(f'"{c}"' for c in cols)
    return cols, con.execute(
        f"SELECT {sel} FROM ({rel_sql}) ORDER BY ALL").fetchall()


def check_catalog(res, out_dir, data_dir):
    """Returns {entry: reason} for every entry whose output is wrong.

    Each entry's untimed check execution, made after the timed passes on
    the same inputs, wrote its result under <out>/results/<entry>.
    Entries with oracle SQL must match it exactly (tools/check_oracle.py's
    rules: same column names, same multiset of rows). Entries without it
    must give the same row digest in every run on these inputs. The
    oracle answers and digests are kept beside the inputs, so they go
    when the inputs are regenerated.
    """
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {table_ref(data_dir, t)}")
    oracles = res["oracles"]
    cache_dir = os.path.join(os.path.dirname(data_dir), "oracle",
                             os.path.basename(data_dir))
    os.makedirs(cache_dir, exist_ok=True)
    digest_file = os.path.join(cache_dir, "digests.json")
    digests = json.load(open(digest_file)) if os.path.exists(digest_file) else {}
    wrong = {}
    for op in res["ops"]:
        if op["kind"] != "check":
            continue
        name = op["name"]
        if op["error"]:
            wrong[name] = f"check execution threw: {op['error']}"
            continue
        files = os.path.join(out_dir, "results", name, "*.parquet")
        if not glob.glob(files):
            wrong[name] = "no result written"
            continue
        got_cols, got = sorted_rows(con, f"SELECT * FROM '{files}'")
        if name in oracles:
            cache = os.path.join(cache_dir, f"{name}.pickle")
            if os.path.exists(cache):
                with open(cache, "rb") as f:
                    exp_cols, exp = pickle.load(f)
            else:
                exp_cols, exp = sorted_rows(con, oracles[name])
                with open(cache, "wb") as f:
                    pickle.dump((exp_cols, exp), f)
            if got_cols != exp_cols:
                wrong[name] = f"columns {got_cols} vs oracle {exp_cols}"
            elif got != exp:
                bad = sum(1 for a, b in zip(got, exp) if a != b)
                wrong[name] = (f"{len(got)} rows vs oracle {len(exp)}, "
                               f"{bad} differ")
        else:
            d = hashlib.sha256(repr((got_cols, got)).encode()).hexdigest()
            if digests.setdefault(name, d) != d:
                wrong[name] = "result digest differs from earlier runs"
    with open(digest_file, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    for name, w in wrong.items():
        log(f"wrong output ({name}): {w}")
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(LIB_SRC) or not os.path.isfile(SCALE_GEN):
        log("library sources (src/main/scala) or tools/scale_gen.py missing; "
            "run from a full checkout")
        return 2
    os.makedirs(WORK, exist_ok=True)
    deadline = t_start + (880 if first_run() else DEADLINE_S)
    # the build and the inputs are independent: make them side by side
    with concurrent.futures.ThreadPoolExecutor(2) as pool:
        built = pool.submit(build, deadline)
        inputs = pool.submit(prepare_data, deadline)
        (build_fp, classpath), data = built.result(), inputs.result()
    cores = max(1, min(4, os.cpu_count() or 1))
    jvm_dir = os.path.join(WORK, "jvm")
    os.makedirs(jvm_dir, exist_ok=True)
    cds = cds_archives(build_fp, classpath, data, cores, deadline)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    data_dir = os.path.join(data, WORKLOADS[a.workload])
    cmd = java_cmd(classpath,
                   f"-XX:SharedArchiveFile={os.path.join(cds, a.workload)}.jsa",
                   [a.workload, a.seed, a.seconds, a.trace, data_dir,
                    os.path.join(data, "sf0.001"), out, cores])
    rc, _, _ = run_bounded(cmd, deadline - 15, cwd=jvm_dir,
                           stdout=subprocess.DEVNULL)
    if rc != 0:
        log(f"benchmark JVM exited with {rc}")
        return 1
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    if a.workload == "lakehouse_dml":
        # the JVM checked every read; it marks a wrong one "wrong: ..."
        wrong = {o["id"] for o in timed if o["error"].startswith("wrong:")}
    else:
        # a wrong check execution fails every timed run of its entry
        bad = check_catalog(res, out, data_dir)
        wrong = {o["id"] for o in timed if o["name"] in bad}
    threw = [o for o in timed if o["error"] and o["id"] not in wrong]
    # lakehouse_dml also compares each whole table with the model at the end
    finals = int(res["extra"].get("final_mismatches", {}).get("value", 0))
    failed = len(threw) + len(wrong) + finals
    attempted = len(timed) + (2 if a.workload == "lakehouse_dml" else 0)
    violations = res["layer_sum_violations"]
    for v in violations[:10]:
        log(f"layer-sum violation: {v}")

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    for name, m in list(metrics.items()) + list(res["extra"].items()):
        print(f"{name:32s} {m['value']:>14.6f} {m['unit']}")
    print(f"{'fail_frac':32s} {failed / max(attempted, 1):>14.6f} ratio")
    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    for f in ("result.json", "spans.json"):
        if os.path.exists(os.path.join(out, f)):
            shutil.copy(os.path.join(out, f), os.path.join(
                keep, f"{a.workload}-trace{a.trace}-seed{a.seed}-{f}"))
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not violations,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
