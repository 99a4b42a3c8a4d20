#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload gate_mix --seed 1 --seconds 4 --trace 0

Workloads (see perfbench/README.md): gate_mix, curation_pipeline.

Steps: build the engine plus harness from source (first run only), generate
the seeded inputs, run the workload in one JVM on local[nproc], check its
outputs outside the timed region (DuckDB oracle, p233 recomputed from its
oracle SQL, or the fixture rule), and
print one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. ``--corrupt-expected`` perturbs every expected value, which
must drive ``failed`` above 0 (a self-test of the check).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("gate_mix", "curation_pipeline")
PIPELINE = "p233_full_pipeline"  # curation_pipeline's op
SETUP_REPEATS = 3
DEADLINE_S = 175
# A fixed, pre-touched heap: with a growable heap, VmHWM followed the GC's
# resizing decisions and spread 13-27% across seeds of the same workload.
# So peak_rss_mb sees only memory outside the Java heap, not heap demand.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 2) -> None:
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root: str) -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{root}/src/main/**/*", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root: str, out: str, deadline: float) -> str:
    """Compile the engine and the harness with sbt; returns the classpath."""
    stamp, cp_file = source_stamp(root), f"{out}/classpath.txt"
    if os.path.exists(cp_file) and open(f"{out}/stamp.txt").read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=max(10, deadline - time.time()))
    cps = [line for line in proc.stdout.splitlines()
           if line.startswith("/") and ".jar" in line]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(f"{out}/stamp.txt", "w") as f:
        f.write(stamp)
    return cps[-1]


def generate(workload: str, seed: int, work: str) -> tuple:
    """Generate the inputs SETUP_REPEATS times; returns (dir, median s, sizes)."""
    times, info = [], {}
    for k in range(SETUP_REPEATS):
        d = f"{work}/inputs{k}"
        t0 = time.perf_counter()
        if workload == "gate_mix":
            info = {"tables": gen.write_tables(f"{d}/tables", seed),
                    "api": gen.write_api_fixtures(f"{d}/api", seed)}
        else:
            info = gen.write_corpus(d, seed)
        times.append(time.perf_counter() - t0)
        if k < SETUP_REPEATS - 1:
            shutil.rmtree(d)
    return d, statistics.median(times), info


# ------------------------------------------------------------------ checks

def _oracle():
    from oracle_check import canon  # tools/oracle_check.py of the checkout
    return canon


def frame_hash(df: pd.DataFrame) -> tuple:
    """Order-insensitive row hash: oracle_check's canonical form (columns by
    name, rows sorted on raw values, every cell rendered to text)."""
    c = _oracle()(df)
    h = hashlib.md5()
    h.update(("\x1f".join(c.columns) + "\n").encode())
    for row in c.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return len(c), h.hexdigest()


def check_queries(entries, inputs: str, corrupt: bool) -> dict:
    """name -> mismatch reason ('' when the output matches the oracle)."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(f"{inputs}/*.parquet"):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    out = {}
    for e in entries:
        if e["error"]:
            out[e["name"]] = e["error"]
            continue
        try:
            want = frame_hash(expected_p233(inputs) if e["name"] == PIPELINE
                              else con.execute(e["sql"]).df())
            got = frame_hash(pd.read_parquet(e["path"]))
        except Exception as ex:  # noqa: BLE001
            out[e["name"]] = f"{type(ex).__name__}: {ex}"
            continue
        if corrupt:
            want = (want[0], want[1] + "x")
        out[e["name"]] = "" if got == want else f"rows/hash {got} != {want}"
    return out


def _toks(text: str) -> list:
    return [x for x in re.split(r"\s+", text) if x != ""]


def _grams(toks: list, n: int) -> set:
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _bucket(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % 1000000


def expected_p233(inputs: str) -> pd.DataFrame:
    """p233's output recomputed in Python, stage by stage, from the CTEs of
    its oracle SQL (SparkEntry). DuckDB itself does not finish that SQL
    within 150 s even at 200 documents, so this is the reference for the run."""
    docs = pd.read_parquet(f"{inputs}/documents.parquet")
    text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    lang = dict(zip(docs["doc_id"].tolist(), docs["lang"].tolist()))
    toks = {d: _toks(t) for d, t in text.items()}
    low = {d: [x.lower() for x in ts] for d, ts in toks.items()}

    def score(d):  # stage 1: quality gate
        t, ts = text[d], toks[d]
        n_tok, n_char = float(len(ts)), float(len(t))
        n_alpha = float(len(re.sub("[^A-Za-z]", "", t)))
        n_punct = float(len(re.sub(r"[^.,;:!?'\"()\[\]-]", "", t)))
        h_en = float(sum(x in gen.EN_STOPWORDS for x in low[d]))
        return (min(n_tok / 200.0, 1.0) * 0.4 + (n_alpha / n_char if n_char else 0.0) * 0.3
                + (h_en / n_tok if n_tok else 0.0) * 0.2
                + (1.0 - min((n_punct / n_char if n_char else 0.0) * 5.0, 1.0)) * 0.1)

    canon = {}  # stage 2: exact dedup, the smallest doc_id per fingerprint
    for d in sorted(text):
        if score(d) >= 0.45:
            canon.setdefault(" ".join(low[d]), d)
    cd = sorted(canon.values())
    # stage 3: MinHash (8 seeds over md5 of 3-shingles), 1-row LSH bands,
    # Jaccard >= 0.8; the larger id of every verified pair drops
    sh = {d: _grams(low[d], 3) for d in cd}
    sh = {d: s for d, s in sh.items() if s}
    bands = {}
    for d, s in sh.items():
        ms = [hashlib.md5(x.encode()).hexdigest() for x in s]
        a = np.array([int(m[:14], 16) for m in ms], dtype=np.int64)
        b = np.array([int(m[16:30], 16) for m in ms], dtype=np.int64)
        for i in range(8):
            bands.setdefault((i, int((a + i * b).min())), []).append(d)
    cand = {(x, y) for ids in bands.values() for x in ids for y in ids if x < y}
    dropped = {y for x, y in cand
               if len(sh[x] & sh[y]) / len(sh[x] | sh[y]) >= 0.8}
    # stage 4: decontamination against every doc of the % 20 benchmark slice
    bench = set().union(*(_grams(low[d], 5) for d in text if d % 20 == 0))
    decon = [d for d in cd if d not in dropped and d % 20 != 0
             and not (_grams(low[d], 5) & bench)]
    # stage 5: temperature mixture (tau = 2) from the decontaminated counts
    counts = pd.Series([lang[d] for d in decon]).value_counts()
    raw = (counts / counts.sum()) ** -0.5
    keep = {k: math.floor(round(w / raw.max(), 9) * 1000000 + 0.5) for k, w in raw.items()}
    mixed = [d for d in decon if _bucket(f"p233mix:0:{d}") < keep[lang[d]]]
    # stage 6: leak-safe 0.8 / 0.1 / 0.1 split; a non-test doc sharing a
    # 5-gram with the test split drops
    split = {}
    for d in mixed:
        b = _bucket(f"p233f:{d}")
        split[d] = "train" if b < 800000 else "val" if b < 900000 else "test"
    test = set().union(*(_grams(low[d], 5) for d in mixed if split[d] == "test"))
    fin = [d for d in mixed if split[d] == "test" or not (_grams(low[d], 5) & test)]
    # stage 7: contiguous 512-token packing per (split, lang) in doc_id order
    rows, cum = [], {}
    for d in fin:
        n, k = len(toks[d]), (split[d], lang[d])
        rows.append({"doc_id": d, "lang": lang[d], "split": split[d], "n_tokens": n,
                     "bin": cum.get(k, 0) // 512, "oversize": n > 512})
        cum[k] = cum.get(k, 0) + n
    return pd.DataFrame(rows, columns=["doc_id", "lang", "split", "n_tokens", "bin", "oversize"])


def check_flows(flows, seed: int, corrupt: bool) -> dict:
    """(pass, kind) -> mismatch reason, against the fixture rule."""
    want = frame_hash(pd.DataFrame(gen.expected_flow_rows(seed)))
    if corrupt:
        want = (want[0], want[1] + "x")
    out = {}
    for f in flows:
        for kind in ("cold", "warm"):
            reason = f[kind + "_error"]
            if not reason:
                try:
                    got = frame_hash(pd.read_parquet(f[kind]))
                    reason = "" if got == want else f"rows/hash {got} != {want}"
                except Exception as ex:  # noqa: BLE001
                    reason = f"{type(ex).__name__}: {ex}"
            out[(f["pass"], kind)] = reason
    return out


# ------------------------------------------------------------------ metrics

def end_to_end(res: dict, gen_s: float) -> dict:
    main = [o["latency_s"] for o in res["ops"]]
    warm = [o["latency_s"] for o in res["ops"] if o["kind"] == "warm"] or main
    return {
        "setup_s": gen_s + statistics.median(res["session_start_s"]) + res["warmup_s"],
        "run_s": res["timed_s"],
        "op_p50_s": statistics.median(main),
        "op_p95_s": float(np.percentile(main, 95)),
        "cached_op_p50_s": statistics.median(warm),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "src/main/scala/graft/SparkEntry.scala",
                 "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    sys.path.insert(0, os.path.join(root, "tools"))
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))

    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    first_build = not os.path.exists(f"{out}/classpath.txt")
    cp = build(root, out, start + 880)
    deadline = (time.time() if first_build else start) + DEADLINE_S

    work = f"{out}/work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        inputs, gen_s, sizes = generate(a.workload, a.seed, work)
        cores = str(len(os.sched_getaffinity(0)))
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
               "perfbench.Main", "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cores", cores, "--inputs", inputs, "--work", work,
               "--out", f"{work}/result.json"])
        with open(f"{work}/jvm.log", "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(5, deadline - time.time())).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(f"{work}/result.json"):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
            fail(f"workload JVM failed ({rc})", 1)
        res = json.load(open(f"{work}/result.json"))

        ops = res["ops"]
        chk = res["check"]
        if a.workload == "gate_mix":
            reasons = check_queries(chk["queries"], f"{inputs}/tables", a.corrupt_expected)
            reasons.update(check_flows(chk["flows"], a.seed, a.corrupt_expected))
            bad = [o["error"] != "" or bool(reasons.get((o["pass"], o["kind"]) if o["kind"]
                                                        else o["name"])) for o in ops]
        else:
            # the warm-up's output is checked: a mismatch fails every op
            reasons = check_queries(chk["queries"], inputs, a.corrupt_expected)
            bad = [o["error"] != "" or bool(reasons[PIPELINE]) for o in ops]
        for k, v in reasons.items():
            if v:
                print(f"perfbench: check failed for {k}: {v}", file=sys.stderr)
        failed = sum(bad)
        print(f"perfbench: {a.workload} seed={a.seed} ops={len(ops)} "
              f"error_rate={failed / len(ops):.4f} inputs={json.dumps(sizes)} "
              f"info={json.dumps(res['inputs'])}", file=sys.stderr)

        if a.trace:
            layers = res["layers"]
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            shutil.copy(f"{work}/spans.jsonl", f"{out}/spans-{a.workload}.jsonl")
        else:
            e2e = end_to_end(res, gen_s)
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
