#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds graft's main sources with the
benchmark program in perfbench/src (perfbench/build.sh) unless an identical
build exists, generates the workload's documents.parquet from the seed, runs
the program in one JVM at local[<cores>] with a heap sized from MemTotal
(its set-up is timed from the JVM's launch), checks every call's output,
and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full record of the run (host settings, every pass and
call, the output checks and the spans) is written to
<build dir>/perfbench/artifacts/. The exit code is 0 only when every
output check passed.

Output check, outside the timed window: the warm-up pass before the window
writes each job's output; DuckDB runs the program's own oracle SQL
(SparkEntry.oracleSql) over the same generated parquet, and both sides are
compared by row count and an order-insensitive SHA-256, normalised as
tools/check_oracle.py does. Every timed call must then reproduce the
checked call's row count and checksum, and no crawled page may carry an
extraction error or be missing from the corpus.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes are fixed per workload; only the content comes from the seed.
WORKLOADS = {
    # one list crawl through the sharded URL-seen path with a frontier
    # checkpoint that writes every round; at this size the crawler's fixed
    # cost per round is most of the pass (see METRICS.md)
    "crawl_bulk": dict(docs=20000, near_dup=0.0, exact_dup=0.0),
    # shuffle and iteration: exact and minhash dedup with real near-duplicate
    # pairs, host PageRank, the rank-guided crawl and anchor text
    "textpipe": dict(docs=1000, near_dup=0.2, exact_dup=0.02),
}
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order group filter "
         "stream big vector").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
# Near-duplicates keep the similarity profile of the fixture corpus that
# dedup_minhash_lsh's band geometry is tuned to: unrelated documents stay
# below Jaccard 0.71 and one-token copies of 60+ word documents land at
# 0.88 or above. Copies of shorter documents fall into [0.8, 0.88), where
# the minhash query misses true pairs (see CHANGES.md).
NEAR_DUP_MIN_WORDS = 60

DEADLINE_S = 165  # the benchmark JVM must have ended by then; the command's limit is 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def generate(path, n, near_dup, exact_dup, rng):
    """documents.parquet in the schema of the fixture tables:
    doc_id, text, lang, source, n_chars. doc_ids are 0..n-1 (the oracles
    rely on it); text is ASCII, single-spaced, without newlines, 8 to 100
    words of the fixture vocabulary. A share of the documents are exact
    copies of earlier ones, and another share are copies of an earlier
    original of at least NEAR_DUP_MIN_WORDS words with one token replaced."""
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if i and r < exact_dup:
            t = texts[rng.randrange(i)]
        elif originals and r < exact_dup + near_dup:
            words = texts[rng.choice(originals)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            t = " ".join(words)
        else:
            t = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
            if t.count(" ") + 1 >= NEAR_DUP_MIN_WORDS:
                originals.append(i)
        texts.append(t)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def sources_digest(root):
    h = hashlib.sha256()
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files) + [os.path.join(HERE, "build.sh")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt takes
    them from (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jars directory")
    return m.group(1)


def build(root, build_dir, jars):
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    digest = sources_digest(root)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars], cwd=root, check=True,
                   stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(6144, mem_kb // 1024 // 4))
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return cores, mem_kb, heap_mb, load1


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def sentinel():
    """Seconds a fixed single-thread loop takes: the load average does not
    show contention from outside this machine's view, this does."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i
    return time.perf_counter() - t0


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_oracles(run_dir, cores):
    """{oracle name: (ok, rows, detail)} for every output the check pass wrote."""
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{run_dir}/documents.parquet')")
    res = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{run_dir}/out/{name}/*.parquet")
        if not files:
            res[name] = (False, 0, "missing output")
            continue
        sp = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        sp_cols = [d[0] for d in con.description]
        du = con.execute(sql).fetchall()
        du_cols = [d[0] for d in con.description]
        if sorted(sp_cols) != sorted(du_cols):
            res[name] = (False, len(sp), f"schema {sorted(sp_cols)} != {sorted(du_cols)}")
        elif len(sp) != len(du):
            res[name] = (False, len(sp), f"rows {len(sp)} != {len(du)}")
        elif table_hash(sp, sp_cols) != table_hash(du, du_cols):
            res[name] = (False, len(sp), "hash mismatch")
        else:
            res[name] = (True, len(sp), "ok")
    return res


# summary fields every call must reproduce from the checked call
MUST_MATCH = ("rows", "checksum", "pages", "error_pages", "successors")


def verify(result, oracles):
    """(attempted, failed, per-call failure reasons)."""
    checks = result["checks"]
    check_failure = {}
    for call, names in result["oracles_of"].items():
        c = checks.get(call, {"error": "no check"})
        why = c.get("error")
        for n in names:
            ok, rows, detail = oracles.get(n, (False, 0, "no oracle"))
            if not ok:
                why = why or f"{n}: {detail}"
        if not why and oracles[names[0]][1] != c["rows"]:
            why = f"checked rows {c['rows']} != output rows {oracles[names[0]][1]}"
        check_failure[call] = why
    attempted, failed, reasons = 0, 0, []
    for rec in result["calls"]:
        attempted += 1
        s, ref = rec["summary"], checks.get(rec["name"], {})
        why = check_failure.get(rec["name"], "unknown call")
        if not why:
            diff = [k for k in MUST_MATCH if k in ref and s.get(k) != ref[k]]
            if diff:
                why = f"differs from the checked call in {diff}"
            elif s.get("error_pages", 0) > 0:
                why = f"{s['error_pages']} pages with an extraction error"
            elif s.get("fetch_miss_pages", 0) > 0:
                why = f"{s['fetch_miss_pages']} pages missing from the corpus"
        if why:
            failed += 1
            reasons.append(f"pass {rec['pass']} {rec['name']}: {why}")
    for call, why in check_failure.items():  # the check calls themselves
        attempted += 1
        if why:
            failed += 1
            reasons.append(f"check {call}: {why}")
    return attempted, failed, reasons


def pages_per_pass(workload, result):
    """Pages fetched and extracted by one pass over the job list. On
    crawl_bulk they are counted in the crawl's output. On textpipe the
    crawls run inside the queries, which return no page count: the figure
    is the job list's nominal page count, which assumes every query still
    does its own crawl (see METRICS.md)."""
    checks = result["checks"]
    if workload == "textpipe":
        # pagerank_hosts, anchor_text and the rank-guided crawl each crawl
        # every hub page; the rank-guided crawl then fetches one list page
        # (4 items) per document of its top hosts
        return 3 * result["docs"] + checks["crawl_rank_prioritized"]["rows"] // 4
    return sum(c["pages"] for c in checks.values())


def end_to_end(workload, result, setup_s):
    untraced = [p["secs"] for p in result["passes"] if not p["traced"]]
    # the fastest pass: interference from outside only slows a pass, and of
    # the two passes a run has room for a median would be their mean, which
    # carries half of any such stall
    pass_s = min(untraced)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "pages_per_s": {"value": pages_per_pass(workload, result) / pass_s, "unit": "pages/s"},
        "docs_per_s": {"value": result["docs"] / pass_s, "unit": "docs/s"},
        "heap_live_mb": {"value": result["heap_live_mb"], "unit": "MB"},
    }, untraced


def jvm(cmd, run_dir, deadline):
    """Runs the benchmark JVM to its end, stopping it at the deadline."""
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:  # timeout, or this process is being stopped
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM failed ({code})", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through the code that stops the benchmark JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("run from the repository root: graft's sources (src/main/scala) are not here")
    started = time.time()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)

    wl = WORKLOADS[a.workload]
    cores, mem_kb, heap_mb, load1 = host()
    sentinel_s = sentinel()
    ticks0 = cpu_ticks()
    loaded = load1 > cores
    if loaded:
        print(f"perfbench: WARNING the box is loaded at start (1-min load {load1} on {cores} cores);"
              " this run is flagged", file=sys.stderr)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        generate(os.path.join(run_dir, "documents.parquet"), wl["docs"], wl["near_dup"],
                 wl["exact_dup"], random.Random(f"{a.workload}/{a.seed}"))
        java = (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={run_dir}/tmp",
                 f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
                + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                + ["-cp", f"{classes}:{jars}/*", "perfbench.GraftBench"])
        launched = time.time()
        jvm(java + ["run", a.workload, run_dir, str(cores), str(a.seconds), str(a.trace)],
            run_dir, started + DEADLINE_S)
        result = json.load(open(os.path.join(run_dir, "result.json")))
        setup_s = result["setup_end_ms"] / 1e3 - launched
        checked = time.time()
        oracles = check_oracles(run_dir, cores)
        check_s = time.time() - checked
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ticks1 = cpu_ticks()
    # share of this machine's CPU time the hypervisor gave to others during the run
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    attempted, failed, reasons = verify(result, oracles)
    e2e, untraced = end_to_end(a.workload, result, setup_s)
    metrics = e2e if a.trace == 0 else result["layers"]
    correct = failed == 0
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "params": wl,
        "host": {"cores": cores, "mem_total_kb": mem_kb, "heap_mb": heap_mb,
                 "load_1m_at_start": load1, "loaded_at_start": loaded, "sentinel_s": sentinel_s,
                 "steal_frac": steal},
        "correct": correct, "attempted": attempted, "failed": failed, "failures": reasons,
        "oracles": {k: {"ok": v[0], "rows": v[1], "detail": v[2]} for k, v in oracles.items()},
        "end_to_end": e2e, "pass_s_samples": untraced, "setup_s": setup_s,
        "oracle_check_s": check_s, "wall_s": time.time() - started,
        "result": result,
    }
    art_dir = os.path.join(build_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json"), "w") as fh:
        json.dump(artifact, fh)
    for r in reasons[:20]:
        print(f"perfbench: FAILED {r}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: {len(untraced)} passes "
          f"{[round(x, 3) for x in untraced]} s, pass_s_tail (max of {len(untraced)}) "
          f"{max(untraced):.3f} s, failed_frac {failed / attempted:.4f}, CPU steal {steal:.1%}"
          + (" [LOADED BOX]" if loaded else ""))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
