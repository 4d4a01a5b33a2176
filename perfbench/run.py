#!/usr/bin/env python3
"""The engine's benchmark: one command per workload, every result checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py diff <ledger_a.jsonl> <ledger_b.jsonl>
    python3 perfbench/run.py selftest

Run it from the repository root. The first run compiles `src/main/scala` and
the harness in `perfbench/harness` with the Scala compiler that ships with
Spark, records a class-data-sharing archive, and writes the synthetic tables
(`perfbench/gen_data.py`); later runs reuse all of it while the sources are
unchanged. Build outputs, inputs and ledgers
go under `.bench_build/` (or `$CARGO_TARGET_DIR` when it is set).

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics (means per op of the ledger) with `--trace 1`. A traced
run also writes its per-op ledger and prints its own end-to-end figures, so
the tracing overhead is the difference from an untraced run of the same seed.
See perfbench/README.md for the workloads, the metric definitions and why.
"""
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SCALE = 0.01
CPUS = os.cpu_count() or 4
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
SETUPS = 3

# Frozen by name: three of the 23 catalog queries whose constructor starts
# >= 8 Spark jobs at the commit that introduced this benchmark, picked for
# alike latencies (a stable median) and their build shapes (README.md).
CATALOG_BUILD = ["q_crossmodal_ann", "q_dedup_best_survivor", "q_pq_topk"]

# Frozen by name: every third (in sorted order) of the 123 catalog queries
# whose constructor starts exactly one Spark job at that commit. Not in
# BENCHMARK.json (time budget); run by hand as the build-free control.
CATALOG_LAZY = """q_adherence q_approx_quantiles q_audio_features q_bpe_encode q_chunk_cdc
q_contamination q_curation_e2e q_dedup_apply q_dedup_exact q_dedup_minhash
q_dup_rate_by_group q_embedding_norm_audit q_filter_eq_range q_fingerprint
q_geo_pairs q_gif_frames q_hash_sample q_hours_parse q_image_dedup
q_inverted_index q_knn q_lang_id q_marker_extract q_multimodal_codec
q_multimodal_resize_codec q_outliers q_quality_classifier q_rag_e2e
q_regex_extract q_retention q_rollup_incremental q_scd2 q_session_window
q_sliding_window q_stream_dedup q_text_normalize q_token_pack
q_unigram_logprob q_url_dedup q_video_meta q_vocab_topk""".split()

# stream_ingest sizes: write micro-batches of planted near-duplicates and
# fresh vectors, then read micro-batches of queries
STREAM = {"write_batches": 6, "write_rows": 40, "read_batches": 6, "read_rows": 20,
          "planted": 8, "noise": 0.02}

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "tail_ms": "ms",
              "read_p50_ms": "ms", "read_tail_ms": "ms", "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "queries.build_tasks": "count", "queries.build_task_cpu_ms": "ms",
    "queries.build_idle_ms": "ms", "queries.held_rdds": "count",
    "queries.held_mb": "MB", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "operators.exec_ms": "ms", "operators.jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.sched_delay_ms": "ms", "operators.idle_ms": "ms",
    "operators.busy_frac": "ratio", "operators.task_cpu_ms": "ms",
    "operators.shuffle_write_mb": "MB", "operators.spill_mb": "MB",
    "operators.orphan_jobs": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.files_written": "count", "streaming.write_amp": "ratio",
    "core.gc_ms": "ms", "core.heap_used_mb": "MB"}
# counters that do not depend on the core count: what `diff` compares
DIFF_KEYS = ["queries.build_jobs", "operators.jobs", "queries.build_tasks",
             "operators.tasks", "queries.build_task_cpu_ms",
             "operators.task_cpu_ms", "operators.shuffle_write_mb",
             "operators.spill_mb", "streaming.files_written"]
WORKLOADS = ("catalog_build", "catalog_lazy", "stream_ingest")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler among Spark's jars in {jars}")
    return os.path.join(jars, "*")


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(sources, out, classpath, salt=""):
    """Compiles `sources` into `out` unless a build of the same sources (and
    `salt`, the stamp of what they compile against) is there. Returns the stamp."""
    stamp = os.path.join(out, ".stamp")
    want = digest(sources, salt)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log(f"compiling {len(sources)} Scala files into {os.path.relpath(out, ROOT)}")
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(want)
    return want


def pack(classes, jar):
    import zipfile
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                if not f.startswith("."):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))


def build():
    """Compiles the engine and the harness, packs each into a jar, reads the
    catalog's oracle SQL and records a class-data-sharing archive of a short
    training run (it cuts JVM start-up, which every run pays, roughly in
    half). Each step reruns only when its inputs changed. Returns the
    classpath, the JVM flags and the oracle SQL by query name."""
    src = os.path.join(ROOT, "src", "main", "scala")
    program = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    if not program:
        raise BenchError(f"no engine sources under {src}: run from the repository root")
    jars = spark_jars()
    prog_out = os.path.join(BUILD, "classes", "program")
    harness_out = os.path.join(BUILD, "classes", "harness")
    stamp = compile_scala(program, prog_out, jars)
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    stamp = compile_scala(harness, harness_out, os.pathsep.join([jars, prog_out]), salt=stamp)
    out = os.path.join(BUILD, "jvm")
    classpath = os.pathsep.join([os.path.join(out, "program.jar"),
                                 os.path.join(out, "harness.jar"), jars])
    archive = os.path.join(out, "classes.jsa")
    oracles = os.path.join(out, "oracle_sql.json")
    done = os.path.join(out, ".stamp")
    stamp += " " + ",".join(CATALOG_BUILD)
    if not (os.path.exists(done) and open(done).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pack(prog_out, os.path.join(out, "program.jar"))
        pack(harness_out, os.path.join(out, "harness.jar"))
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath,
                            "perfbench.OracleSql", oracles],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError("could not read the oracle SQL:\n" + r.stdout[-2000:])
        log("recording the class-data archive")
        train = os.path.join(out, "train")
        os.makedirs(os.path.join(train, "tmp"))
        run_jvm(classpath, train, [f"-XX:ArchiveClassesAtExit={archive}"], {
            "workload": "catalog_build", "data": tables(SCALE), "work": train,
            "cpus": CPUS, "seconds": 0, "trace": 0, "setups": 1, "seed": 0,
            "queries": ",".join(CATALOG_BUILD),
            "out": os.path.join(train, "result.json"), "ledger": ""})
        shutil.rmtree(train)
        with open(done, "w") as f:
            f.write(stamp)
    with open(oracles) as f:
        return classpath, [f"-XX:SharedArchiveFile={archive}"], json.load(f)


def tables(scale):
    out = os.path.join(BUILD, "data", f"sf{scale}")
    stamp = os.path.join(out, ".stamp")
    want = digest([os.path.join(HERE, "gen_data.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.write(out, scale)
        with open(stamp, "w") as f:
            f.write(want)
    return out


# ------------------------------------------------------------------ inputs

def write_vectors(path, id_name, vec_name, ids, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        id_name: pa.array(ids, pa.int64()),
        vec_name: pa.array([v.tolist() for v in vecs], pa.list_(pa.float64()))}), path)


def stream_inputs(data, seed, out, sizes):
    """Seeded micro-batch files. Every write batch plants perturbed copies of
    corpus rows (near-duplicates the ingest must mine) among fresh random
    vectors; every read batch holds perturbed corpus rows as queries."""
    import pyarrow.parquet as pq
    corpus = np.array(pq.read_table(os.path.join(data, "embeddings.parquet"))
                      .column("embedding").to_pylist(), dtype=np.float64)
    rng = np.random.default_rng(seed)
    dim = corpus.shape[1]

    def unit(v):
        return v / np.linalg.norm(v, axis=-1, keepdims=True)

    def near(rows, noise):
        return unit(corpus[rows] + rng.normal(0.0, noise, (len(rows), dim)))

    def batches(kind, n, rows, id_base):
        os.makedirs(os.path.join(out, kind))
        for b in range(n):
            ids = id_base + b * 1000 + np.arange(rows)
            if kind.endswith("write"):
                planted = sizes["planted"]
                vecs = np.vstack([near(rng.choice(len(corpus), planted), sizes["noise"]),
                                  unit(rng.normal(size=(rows - planted, dim)))])
                write_vectors(os.path.join(out, kind, f"b{b:03d}.parquet"), "id", "emb", ids, vecs)
            else:
                vecs = near(rng.choice(len(corpus), rows), 0.2)
                write_vectors(os.path.join(out, kind, f"b{b:03d}.parquet"), "qid", "qe", ids, vecs)
            # the file source orders a directory by modification time
            t = time.time() - 1000 + b
            os.utime(os.path.join(out, kind, f"b{b:03d}.parquet"), (t, t))

    batches("write", sizes["write_batches"], sizes["write_rows"], 30_000_000)
    batches("read", sizes["read_batches"], sizes["read_rows"], 40_000_000)


# ------------------------------------------------------------------- checks

def canon(v):
    """One value in a form both engines' results reduce to."""
    import datetime
    import decimal
    import pandas as pd
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def fingerprint(df):
    """Order-free fingerprint of a result: row count plus a hash over the
    sorted canonical rows, with columns taken in name order."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(canon(v) for v in r))
                  for r in df[cols].itertuples(index=False, name=None))
    return len(rows), hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()


def oracle_fingerprints(names, data, oracles):
    """Query name -> fingerprint of its DuckDB oracle's answer on `data`,
    cached beside the tables (both are fixed until gen_data.py changes)."""
    cache_path = os.path.join(data, "oracle_fingerprints.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = None
    out = {}
    for n in names:
        if n not in oracles:
            continue
        key = hashlib.sha256(oracles[n].encode()).hexdigest()
        if key not in cache:
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            cache[key] = list(fingerprint(con.execute(oracles[n]).fetchdf()))
        out[n] = tuple(cache[key])
    if con is not None:
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return out


def check_catalog(names, data, check_dir, oracles):
    """Query name -> failure reason, for every query whose check-pass result
    does not fingerprint-match its DuckDB oracle."""
    import pyarrow.parquet as pq
    want = oracle_fingerprints(names, data, oracles)
    bad = {}
    for n in names:
        path = os.path.join(check_dir, n)
        if n not in want:
            bad[n] = "no oracle SQL"
        elif not os.path.isdir(path):
            bad[n] = "no check-pass result"
        else:
            try:
                got = fingerprint(pq.read_table(path).to_pandas())
            except Exception as e:  # a result the check cannot read is a failed check
                bad[n] = f"check threw: {str(e).splitlines()[0][:200]}"
                continue
            if got != want[n]:
                bad[n] = (f"fingerprint {got[0]} rows/{got[1][:12]} != "
                          f"oracle {want[n][0]} rows/{want[n][1][:12]}")
    return bad


# ------------------------------------------------------------------ metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it; with ten
    samples or fewer, the highest with at least one beyond it, so a lone
    maximum never stands for the tail. Returns it, its percentile and n."""
    s = sorted(xs)
    i = len(s) - 11 if len(s) > 10 else max(0, len(s) - 2)
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def latency_metrics(prefix, xs):
    if not xs:
        raise BenchError(f"no completed ops for {prefix or 'the window'}")
    t, pct, n = tail(xs)
    log(f"{prefix}tail_ms = p{pct:.1f} of {n} samples; {prefix}p50_ms = median of {n}")
    return {f"{prefix}p50_ms": statistics.median(xs), f"{prefix}tail_ms": t}


def summarize(workload, res, failed_names):
    ops = res["ops"]
    if workload == "stream_ingest":
        writes = [o for o in ops if o["kind"] == "write"]
        reads = [o for o in ops if o["kind"] == "read"]
        bad = {k for k in ("write", "read") if k in failed_names} | \
            ({"write", "read"} if "stream" in failed_names else set())
        attempted = res["stream_batches"]
        failed = attempted - len(writes) - len(reads) + \
            sum(len(writes if k == "write" else reads) for k in bad)
        m = {"ops_per_s": len(writes) / res["window_s"]}
        m.update(latency_metrics("", [o["ms"] for o in writes]))
        m.update(latency_metrics("read_", [o["ms"] for o in reads]))
    else:
        attempted = len(ops)
        ok = [o for o in ops if o["ok"] and o["name"] not in failed_names]
        failed = attempted - len(ok)
        m = {"ops_per_s": len(ok) / res["window_s"]}
        m.update(latency_metrics("", [o["ms"] for o in ok]))
        # the catalog's read side: the action that reads a built plan's answer
        m.update(latency_metrics("read_", [o["exec_ms"] for o in ok]))
    m["setup_s"] = statistics.median(res["setup_s"])
    m["peak_rss_mb"] = res["peak_rss_mb"]
    return attempted, failed, m


def layer_means(ledger_rows):
    if not ledger_rows:
        raise BenchError("the traced run left an empty ledger")
    return {k: statistics.fmean(float(r[k]) for r in ledger_rows) for k in PER_LAYER}


# --------------------------------------------------------------------- run

def jvm_options(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # no hsperfdata file outside the work directory
        "-XX:-UsePerfData",
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn768m", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def run_jvm(classpath, work, flags, args):
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(["java"] + jvm_options(work) + flags +
                             ["-cp", classpath, "perfbench.PerfBench"] +
                             [f"{k}={v}" for k, v in args.items()],
                             cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"the JVM ran past {JVM_TIMEOUT_S} s; log: {logf}")
    if code != 0:
        with open(logf) as f:
            lines = [ln for ln in f.read().splitlines() if "Exception" in ln or "Error" in ln]
        raise BenchError(f"the JVM exited with {code}; log: {logf}\n" + "\n".join(lines[:20]))


def bench(workload, seed, seconds, trace, scale=SCALE, stream=None):
    """Runs one workload; returns (correct, attempted, failed, metrics)."""
    stream = stream or STREAM
    classpath, flags, oracles = build()
    data = tables(scale)
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    ledger = os.path.join(out_dir, f"{workload}-s{seed}.ledger.jsonl")
    args = {"workload": workload, "data": data, "work": work, "cpus": CPUS,
            "seconds": seconds, "trace": int(trace), "setups": SETUPS, "seed": seed,
            "out": os.path.join(work, "result.json"), "ledger": ledger}
    if workload == "stream_ingest":
        args["inputs"] = os.path.join(work, "in")
        stream_inputs(data, seed, args["inputs"], stream)
    else:
        names = CATALOG_BUILD if workload == "catalog_build" else CATALOG_LAZY
        args["queries"] = ",".join(names)
    run_jvm(classpath, work, flags, args)
    with open(args["out"]) as f:
        res = json.load(f)
    for e in res["warmup_errors"]:
        log(f"warm-up exception: {e}")
    log(f"warm-up (s): {[round(x, 2) for x in res.get('warmup_passes_s', [])]}; "
        f"timed passes (s): {[round(x, 2) for x in res.get('passes_s', [])]}; "
        f"{len(res['warmup_errors'])} warm-up exceptions")
    failed_names = dict(res["check_failed"])
    if workload != "stream_ingest":
        failed_names.update(check_catalog(args["queries"].split(","), data,
                                          os.path.join(work, "check"), oracles))
    else:
        log(f"mined pairs: {res.get('pairs')} (digest {res.get('pairs_digest')})")
    for n, why in sorted(failed_names.items()):
        log(f"result check failed: {n}: {why}")
    attempted, failed, m = summarize(workload, res, failed_names)
    correct = failed == 0 and not failed_names and not res["warmup_errors"]
    summary = os.path.join(out_dir, f"{workload}-s{seed}-t{int(trace)}.json")
    with open(summary, "w") as f:
        json.dump(m, f)
    if trace:
        with open(ledger) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
        bad = [r["op"] for r in rows
               if abs(r["queries.build_ms"] + r["operators.exec_ms"] - r["latency_ms"]) > 1.0]
        if bad:
            raise BenchError(f"build + exec does not add up to the latency of {bad[:5]}")
        log(f"ledger: {os.path.relpath(ledger, ROOT)} ({len(rows)} ops)")
        log("traced end-to-end: " + json.dumps({k: round(v, 4) for k, v in m.items()}))
        plain = os.path.join(out_dir, f"{workload}-s{seed}-t0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)
            log("tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {100.0 * (m[k] - base[k]) / base[k]:+.1f}%" for k in
                ("p50_ms", "read_p50_ms", "ops_per_s") if base.get(k)))
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer_means(rows).items()}
    else:
        metrics = {k: {"value": m[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return correct, attempted, failed, metrics


# -------------------------------------------------------------------- diff

def diff(a, b):
    """Compares two traced ledgers, op by op name, on core-count-free counters."""
    def load(p):
        by = {}
        with open(p) as f:
            for ln in f:
                if ln.strip():
                    r = json.loads(ln)
                    by.setdefault(r["op"] if r["kind"] == "query" else r["kind"], []).append(r)
        return {k: {m: statistics.fmean(float(r[m]) for r in rs) for m in DIFF_KEYS}
                for k, rs in by.items()}
    la, lb = load(a), load(b)
    changed = 0
    print(f"{'op':32s} {'counter':28s} {'A':>12s} {'B':>12s} {'B-A':>12s}")
    for op in sorted(set(la) | set(lb)):
        if op not in la or op not in lb:
            print(f"{op:32s} only in {'B' if op in lb else 'A'}")
            changed += 1
            continue
        for k in DIFF_KEYS:
            x, y = la[op][k], lb[op][k]
            if abs(y - x) > 1e-9 * max(1.0, abs(x)):
                changed += 1
                print(f"{op:32s} {k:28s} {x:12.3f} {y:12.3f} {y - x:+12.3f}")
    for k in DIFF_KEYS:
        x = sum(v[k] for v in la.values())
        y = sum(v[k] for v in lb.values())
        print(f"{'TOTAL':32s} {k:28s} {x:12.3f} {y:12.3f} {y - x:+12.3f}")
    print(f"{changed} op/counter pairs differ")
    return 0


# ---------------------------------------------------------------- selftest

def selftest():
    """At sf0.001: every workload of BENCHMARK.json prints every named metric
    with its unit in both modes and passes its checks, and a corrupted
    result fails the check."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]
    assert set(workloads) <= set(WORKLOADS), workloads
    small = dict(STREAM, write_batches=2, read_batches=2)
    for w in workloads:
        for trace, want in ((0, e2e), (1, layers)):
            correct, attempted, failed, metrics = bench(w, 7, 1, trace, scale=0.001,
                                                        stream=small)
            got = {k: v["unit"] for k, v in metrics.items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != {want}"
            assert all(isinstance(v["value"], (int, float)) for v in metrics.values())
            assert correct and failed == 0 and attempted > 0, (w, trace, correct, failed)
            log(f"selftest: {w} trace={trace} ok ({attempted} ops)")
    # a corrupted result must fail the fingerprint check
    import pyarrow as pa
    import pyarrow.parquet as pq
    work = os.path.join(BUILD, "runs", "catalog_build-s7-t0")
    data = tables(0.001)
    name = CATALOG_BUILD[0]
    path = os.path.join(work, "check", name)
    oracles = build()[2]
    assert check_catalog([name], data, os.path.join(work, "check"), oracles) == {}
    t = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(t.slice(1), os.path.join(path, "part-0.parquet"))
    bad = check_catalog([name], data, os.path.join(work, "check"), oracles)
    assert name in bad, "a result missing a row passed the check"
    col = t.column_names[0]
    t2 = t.set_column(0, col, pa.array([None] * t.num_rows, t.schema.field(col).type))
    pq.write_table(t2, os.path.join(path, "part-0.parquet"))
    bad = check_catalog([name], data, os.path.join(work, "check"), oracles)
    assert name in bad, "a result with a corrupted column passed the check"
    log("selftest: corrupted results fail the check")
    print("selftest passed")
    return 0


def main(argv):
    if argv[:1] == ["diff"] and len(argv) == 3:
        return diff(argv[1], argv[2])
    if argv[:1] == ["selftest"]:
        return selftest()
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    correct, attempted, failed, metrics = bench(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
