"""Lakehouse statement benchmark.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of this repository.  The engine is
imported from that checkout; the corpus is generated there (under
`.perfbench_work/`, reused across runs) and every file the run writes
stays there.  The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end ones (BENCHMARK.json `end_to_end`); with
`--trace 1` the run times the workload once untraced and once traced
and reports the per-layer metrics plus the tracing overhead.  A human
report (per-layer table, provenance) goes to standard error.
See perfbench/README.md for the workloads and their knobs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import measure  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("bi_dashboard", "lake_ingest")
SETUPS = 3           # set-ups per run; setup_s is their median
CORPUS_SEED = 20260  # the corpus is fixed; --seed drives the statements
CORPUS_SF = 0.01     # corpus scale factor: 60k lineitem rows


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def sql_rows(df) -> list:
    return [tuple(r) for r in df.collect()]


# -- the two workloads ---------------------------------------------------------
class Workload:
    """Shared machinery: set-up, closed-loop timed regions, checks."""

    def __init__(self, spark, corpus_dir: str, run_dir: str, seed: int):
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.run_dir = run_dir
        self.seed = seed
        self.samples: list[dict] = []   # every timed statement
        self.eng = None
        self.tracer = None

    def new_engine(self, i: int):
        from dremio_oss_spark.engine import Engine
        from dremio_oss_spark.plans import ReflectionStore

        eng = Engine(self.spark.newSession())
        # one reflection store per set-up: the default store root is
        # per process, so repeated set-ups in one run would share it
        eng._refl_store = ReflectionStore(
            eng.spark, os.path.join(self.run_dir, f"refl{i}"))
        eng.add_testdata_source(self.corpus_dir)
        return eng

    def execute(self, sid: str, sql: str) -> tuple[list, object]:
        """One statement through Engine.sql, collected; returns (rows,
        accelerated_by).  Traced runs tag its Spark jobs."""
        tr = self.tracer
        sc = self.spark.sparkContext
        if tr is not None:
            tr.statement(sid)
            with tr.own_calls():
                sc.setJobGroup(f"perfbench-{sid}", sid)
        rows = sql_rows(self.eng.sql(sql))
        accel = self.eng.last_plan_accelerated
        if tr is not None:
            tr.statement(None)
            tr.collect_spark(sid, f"perfbench-{sid}")
        return rows, accel

    def timed(self, label: str, sql: str, key: str, **extra) -> None:
        """Time one Engine.sql statement and record it as a sample; a
        failure is recorded, not raised.  `key` names the statement for
        the checks."""
        sid = f"s{len(self.samples)}"
        t0 = time.perf_counter()
        try:
            rows, accel = self.execute(sid, sql)
            err = None
        except Exception as e:  # noqa: BLE001 — counted as failed
            rows, accel, err = None, None, f"{type(e).__name__}: {e}"
        self.samples.append({
            "region": label, "kind": "read", "sql": key,
            "ms": (time.perf_counter() - t0) * 1000,
            "end": time.perf_counter(), "ok": err is None, "error": err,
            "rows": rows, "accel": accel, "sid": sid, **extra})

    def finish(self) -> None:
        pass

    def storage(self) -> dict | None:
        """Per-format file accounting of the timed regions (lake only)."""
        return None

    def probe_defects(self) -> list[str]:
        """Known seed defects that still reproduce (lake only)."""
        return []

    def check_texts(self, con, to_duckdb) -> dict[int, str]:
        """Each distinct statement once against DuckDB; every repeat must
        return the first answer.  Returns {sample index: problem}."""
        import oracle

        first, wrong_text, bad = {}, {}, {}
        for i, s in enumerate(self.samples):
            if not s["ok"]:
                continue
            if s["sql"] not in first:
                first[s["sql"]] = s["rows"]
                d = oracle.diff(s["rows"],
                                con.execute(to_duckdb(s["sql"])).fetchall())
                if d:
                    wrong_text[s["sql"]] = d
            d = wrong_text.get(s["sql"]) or oracle.diff(s["rows"],
                                                        first[s["sql"]])
            if d:
                bad[i] = d
        return bad


class BiDashboard(Workload):
    """4 closed-loop REST clients over a star VDS with two aggregate
    reflections; the catalog also holds BI_FILLER_VDS filler views."""

    def setup(self, i: int) -> None:
        eng = self.new_engine(i)
        for k in range(wl.BI_FILLER_VDS):
            eng.create_vds(wl.BI_SPACE, *wl.bi_filler(k))
        eng.create_vds(wl.BI_SPACE, wl.BI_STAR_VDS, wl.BI_STAR_SQL)
        for stmt in wl.BI_REFLECTIONS:
            eng.sql(stmt)
        self.eng = eng

    def start(self) -> None:
        from dremio_oss_spark.server.rest import serve_rest_background

        self.server, self.thread = serve_rest_background(self.eng)
        self.port = self.server.server_address[1]
        self.streams = [wl.bi_stream(self.seed, c)
                        for c in range(wl.BI_CLIENTS)]

    def finish(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def region(self, seconds: float, label: str) -> None:
        import http.client
        import threading

        deadline = time.perf_counter() + seconds
        lock = threading.Lock()
        errors = []

        def client(c: int) -> None:
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=170)
            try:
                while time.perf_counter() < deadline:
                    side, tname, sql = next(self.streams[c])
                    t0 = time.perf_counter()
                    conn.request("POST", "/api/v3/sql",
                                 body=json.dumps({"sql": sql}),
                                 headers={"Content-Type":
                                          "application/json"})
                    resp = conn.getresponse()
                    body = json.loads(resp.read())
                    ms = (time.perf_counter() - t0) * 1000
                    s = {"region": label, "kind": "read", "sql": sql,
                         "template": f"{side}.{tname}", "ms": ms,
                         "end": time.perf_counter(),
                         "ok": resp.status == 200,
                         "error": body.get("errorMessage"),
                         "rows": body.get("rows"),
                         "accel": body.get("accelerated_by"),
                         "sid": f"rest-{body.get('id')}"}
                    if self.tracer is not None and "id" in body:
                        conn.request("GET",
                                     f"/api/v3/job/{body['id']}/profile")
                        prof = json.loads(conn.getresponse().read())
                        s["planning_ms"] = prof.get("planningTimeMs")
                        s["execution_ms"] = prof.get("executionTimeMs")
                        self.tracer.collect_spark(
                            s["sid"], f"rest-job-{body['id']}")
                    with lock:
                        self.samples.append(s)
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(f"client {c}: {type(e).__name__}: {e}")
            finally:
                conn.close()

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(wl.BI_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 170)
        if errors or any(t.is_alive() for t in threads):
            raise RuntimeError(f"dashboard clients failed: {errors}")

    def check(self) -> dict[int, str]:
        import oracle

        con = oracle.duckdb_conn(self.corpus_dir, corpus.TABLES)
        con.execute(f"create view {wl.BI_SPACE}__{wl.BI_STAR_VDS} as "
                    f"{wl.BI_STAR_SQL}")
        try:
            return self.check_texts(con, wl.bi_duckdb_sql)
        finally:
            con.close()


class LakeIngest(Workload):
    """Seeded DML rounds on a Delta and an Iceberg table, each with a
    path-anchored aggregate reflection, and an aggregate read per
    round."""

    def setup(self, i: int) -> None:
        eng = self.new_engine(i)
        base = os.path.join(self.run_dir, f"lake{i}")
        self.paths = {"delta": os.path.join(base, "orders_delta"),
                      "iceberg": os.path.join(base, "orders_iceberg")}
        eng.sql(f"CREATE TABLE '{self.paths['delta']}' AS "
                "SELECT * FROM orders")
        eng.sql(f"CREATE TABLE '{self.paths['iceberg']}' STORE AS "
                "(type => 'iceberg') AS SELECT * FROM orders")
        for fmt, p in self.paths.items():
            eng.sql(wl.LAKE_REFLECTION.format(t=f"'{p}'",
                                              name=f"r_{fmt}_{i}"))
        self.eng = eng

    def orders_rows(self) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(
            self.corpus_dir, "orders.parquet")).metadata.num_rows

    def start(self) -> None:
        self.n_orders = self.orders_rows()
        self.row_bytes = (os.path.getsize(os.path.join(
            self.corpus_dir, "orders.parquet")) / self.n_orders)
        self.round = 0
        self.files0 = {f: self.listing(p) for f, p in self.paths.items()}
        self.user_rows = 0

    @staticmethod
    def listing(root: str) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def region(self, seconds: float, label: str) -> None:
        """Whole periods of LAKE_OPTIMIZE_EVERY rounds (the last one ends
        in OPTIMIZE), started while time remains: every run then holds
        the same statement mix, so per-statement counts do not depend on
        where the deadline cut a round."""
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            for _ in range(wl.LAKE_OPTIMIZE_EVERY):
                for fmt, verb, params in wl.lake_round(
                        self.seed, self.round, self.n_orders):
                    sql = wl.lake_engine_sql(verb, params, self.paths[fmt],
                                             fmt)
                    self.timed(label, sql, sql, fmt=fmt, verb=verb,
                               params=params, kind=("read" if verb == "read"
                                                    else "write"))
                    if self.samples[-1]["ok"]:
                        self.user_rows += wl.lake_user_rows(verb, params)
                self.round += 1

    def check(self) -> dict[int, str]:
        """DuckDB replays every executed statement on plain tables;
        every read must match its replayed answer."""
        import oracle

        con = oracle.duckdb_conn(self.corpus_dir, ["orders"])
        tables = {f: f"t_{f}" for f in wl.LAKE_FORMATS}
        for t in tables.values():
            con.execute(f"create table {t} as select * from orders")
        bad = {}
        for i, s in enumerate(self.samples):
            if not s["ok"]:
                # a failed engine statement changed nothing; neither
                # does the replay
                continue
            for q in wl.lake_duckdb_sql(s["verb"], s["params"],
                                        tables[s["fmt"]]):
                res = con.execute(q)
            if s["verb"] == "read":
                d = oracle.diff(s["rows"], res.fetchall())
                if d:
                    bad[i] = d
        self.live_rows = {f: con.execute(f"select count(*) from {t}")
                          .fetchone()[0] for f, t in tables.items()}
        con.close()
        return bad

    def probe_defects(self) -> list[str]:
        """Run DEFECT_PROBES (untimed, after the checks); returns the
        descriptions of those that still fail."""
        failing = []
        for what, fmt, sql in wl.DEFECT_PROBES:
            try:
                self.eng.sql(sql.format(t=f"'{self.paths[fmt]}'")).collect()
            except Exception as e:  # noqa: BLE001 — the defect itself
                failing.append(f"{what}: {type(e).__name__}: "
                               f"{str(e).splitlines()[0][:200]}")
        return failing

    def storage(self) -> dict:
        """Commit/file/byte accounting of the timed regions, per format,
        from the table directories (the engine exposes no counters)."""
        from dremio_oss_spark.sources import delta as D
        from dremio_oss_spark.sources import iceberg as I

        out = {}
        for fmt, p in self.paths.items():
            now = self.listing(p)
            new = {f: b for f, b in now.items() if f not in self.files0[fmt]}
            commit = ((lambda f: "/_delta_log/" in f and f.endswith(".json"))
                      if fmt == "delta" else
                      (lambda f: f.endswith(".metadata.json")))
            data = [f for f in new if f.endswith(".parquet")
                    and "/_delta_log/" not in f and "/metadata/" not in f]
            snap = (D.resolve_snapshot(self.spark, p) if fmt == "delta"
                    else I.resolve_snapshot(p))
            out[fmt] = {"commits": sum(map(commit, new)),
                        "files_written": len(data),
                        "bytes_written": sum(new[f] for f in data),
                        "all_bytes_written": sum(new.values()),
                        "bytes_on_disk": sum(now.values()),
                        "files_live": len(snap.files)}
        return out


CLASSES = {"bi_dashboard": BiDashboard, "lake_ingest": LakeIngest}


# -- metrics ------------------------------------------------------------------------
def region_stats(samples: list[dict], seconds: float) -> dict:
    """Latency summary and throughput of the samples of one or more
    timed regions of `seconds` each (statements finish after the
    deadline, so a region lasts at least `seconds`)."""
    elapsed = 0.0
    for label in {s["region"] for s in samples}:
        xs = [s for s in samples if s["region"] == label]
        first = min(s["end"] - s["ms"] / 1000 for s in xs)
        elapsed += max(max(s["end"] for s in xs) - first, seconds)
    return {"n": len(samples),
            "lat": measure.summarize([s["ms"] for s in samples]),
            "qps": len(samples) / elapsed}


def end_to_end(setup_times, samples, n_bad, rss, jobs, stages,
               py4j) -> dict:
    """The bounded metrics.  Wall-clock latency, throughput and CPU time
    are printed on stderr, not returned: on a shared host their run-to-run
    spread exceeds any usable bound (README.md, "Metrics")."""
    n = len(samples)
    m = {"setup_s": (statistics.median(setup_times), "s"),
         "ok_ratio": ((n - n_bad) / n, "ratio"),
         "spark_jobs_per_stmt": (jobs / n, "count"),
         "spark_stages_per_stmt": (stages / n, "count"),
         "py4j_calls_per_stmt": (py4j / n, "count"),
         "peak_rss_mb": (rss, "MB")}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def report_wall_clock(samples, seconds, cpu_py, cpu_jvm) -> None:
    st = region_stats(samples, seconds)
    lat = st["lat"]
    if not measure.reportable(lat["n"], 50):
        log(f"note: {lat['n']} samples support no median "
            f"(need {2 * measure.MIN_BEYOND})")
    tail = (f", p{lat['tail_p']:g} {lat['tail']:.1f} ms"
            if "tail" in lat else "")
    log(f"wall clock: latency p50 {lat.get('p50', 0.0):.1f} ms{tail} "
        f"(n={lat['n']}), throughput {st['qps']:.3f} statements/s, "
        f"process CPU {(cpu_py + cpu_jvm) * 1000 / lat['n']:.1f} ms/statement"
        f" (Python {cpu_py * 1000 / lat['n']:.1f}, "
        f"JVM {cpu_jvm * 1000 / lat['n']:.1f})")


def per_layer(w, tr, traced, untraced, seconds, storage,
              plan_hits) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run (see README.md for which
    end-to-end metric each should move), and the base of each ratio or
    mean as text for the table."""
    spans = tr.run_spans()
    by_id = {s["id"]: s for s in tr.spans}
    selfms = tr.self_ms()
    n = len(traced)

    def dur(s):
        return (s["end"] - s["start"]) * 1000

    def has_ancestor(s, pred):
        p = s["parent"]
        while p is not None:
            a = by_id[p]
            if pred(a["name"]):
                return True
            p = a["parent"]
        return False

    def named(prefix, outer=None):
        return [s for s in spans if s["name"].startswith(prefix)
                and not (outer and has_ancestor(s, outer))]

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m: dict[str, tuple] = {}
    base: dict[str, str] = {}
    # server.rest
    rest = [s for s in traced if "planning_ms" in s]
    sql_by_sid = {}
    for s in named("engine.sql", outer=lambda nm: nm == "engine.sql"):
        sql_by_sid.setdefault(s["sid"], dur(s))
    m["server.rest.requests"] = (len(rest), "count")
    m["server.rest.overhead_ms"] = (med([
        s["ms"] - (s["planning_ms"] or 0) - (s["execution_ms"] or 0)
        for s in rest]), "ms")
    m["server.rest.lock_wait_ms"] = (med([
        (s["planning_ms"] or 0) - sql_by_sid[s["sid"]]
        for s in rest if s["sid"] in sql_by_sid]), "ms")
    base["server.rest.overhead_ms"] = base["server.rest.lock_wait_ms"] = (
        f"median of {len(rest)} requests")
    # engine
    top_sql = named("engine.sql", outer=lambda nm: nm == "engine.sql")
    m["engine.sql.calls"] = (len(named("engine.sql")) / max(n, 1),
                             "count/stmt")
    m["engine.sql.self_ms"] = (selfms.get("engine.sql", 0.0) / max(n, 1),
                               "ms/stmt")
    m["engine.plancache.hit_ratio"] = (plan_hits / max(len(top_sql), 1),
                                       "ratio")
    base["engine.plancache.hit_ratio"] = (
        f"{plan_hits} hits / {len(top_sql)} outermost Engine.sql calls")
    # catalog (set-up phase: the views are created there)
    vds = [s for s in tr.spans if s["name"] == "catalog.create_vds"]
    m["catalog.create_vds_ms"] = (mean([dur(s) for s in vds]), "ms")
    base["catalog.create_vds_ms"] = f"mean of {len(vds)} calls in set-up"
    m["catalog.create_vds.calls"] = (len(vds) / SETUPS, "count/setup")
    # reflections + substitution
    reads = [s for s in traced if s["kind"] == "read"]
    accel = sum(1 for s in reads if s["accel"])
    m["plans.reflections.accel_ratio"] = (accel / max(len(reads), 1),
                                          "ratio")
    base["plans.reflections.accel_ratio"] = (
        f"{accel} accelerated / {len(reads)} reads")
    match = named("plans.substitution.match")
    m["plans.substitution.match_ms"] = (mean([dur(s) for s in match]), "ms")
    base["plans.substitution.match_ms"] = f"mean of {len(match)} calls"
    m["plans.substitution.calls"] = (len(match) / max(n, 1), "count/stmt")
    m["plans.reflections.match.calls"] = (
        len(named("plans.reflections.match")) / max(n, 1), "count/stmt")
    is_refresh = (lambda nm: nm.startswith("plans.reflections.refresh"))
    refresh = named("plans.reflections.refresh", outer=is_refresh)
    full_ids = {s["id"] for s in spans
                if s["name"] == "plans.reflections.refresh.full"}
    full = [s for s in refresh
            if s["name"].endswith(".full") or any(
                by_id[f]["start"] >= s["start"]
                and by_id[f]["end"] <= s["end"]
                and by_id[f]["thread"] == s["thread"] for f in full_ids)]
    m["plans.reflections.refresh_ms"] = (mean([dur(s) for s in refresh]),
                                         "ms")
    m["plans.reflections.refresh_count"] = (len(refresh), "count")
    m["plans.reflections.full_rebuild_ratio"] = (
        len(full) / max(len(refresh), 1), "ratio")
    base["plans.reflections.refresh_ms"] = f"mean of {len(refresh)} refreshes"
    base["plans.reflections.full_rebuild_ratio"] = (
        f"{len(full)} full / {len(refresh)} refreshes")
    # sources
    for fmt in wl.LAKE_FORMATS:
        pre = f"sources.{fmt}."
        for verb in ("insert", "update", "delete", "merge", "optimize"):
            xs = named(pre + verb,
                       outer=lambda nm: nm.startswith("sources."))
            m[f"{pre}{verb}_ms"] = (mean([dur(s) for s in xs]), "ms")
            base[f"{pre}{verb}_ms"] = f"mean of {len(xs)} calls"
        st = (storage or {}).get(fmt, {})
        for k in ("commits", "files_written", "bytes_written",
                  "files_live"):
            m[pre + k] = (st.get(k, 0), "count" if k != "bytes_written"
                          else "bytes")
        m[pre + "conflict_retries"] = (sum(
            c for nm, c in tr.conflicts.items() if nm.startswith(pre)),
            "count")
    # spark, per statement
    stats = [tr.spark_stats.get(s["sid"], {}) for s in traced]
    for k, unit in (("exec_ms", "ms/stmt"), ("jobs", "count/stmt"),
                    ("stages", "count/stmt"), ("tasks", "count/stmt"),
                    ("input_bytes", "bytes/stmt"),
                    ("shuffle_read_bytes", "bytes/stmt"),
                    ("shuffle_write_bytes", "bytes/stmt"),
                    ("spill_bytes", "bytes/stmt"),
                    ("task_time_ms", "ms/stmt")):
        m[f"spark.{k}"] = (mean([x.get(k, 0.0) for x in stats]), unit)
    sids = {s["sid"] for s in traced}
    m["py4j.calls"] = (sum(c for sid, c in tr.py4j.items() if sid in sids)
                       / max(n, 1), "count/stmt")
    # tracing overhead, and the lake figures the end-to-end set cannot
    # carry because every workload must report every end-to-end metric
    un = region_stats(untraced, seconds / 2)
    tr_st = region_stats(traced, seconds)
    m["trace.overhead_pct"] = ((un["qps"] / tr_st["qps"] - 1) * 100, "%")
    base["trace.overhead_pct"] = (f"untraced {un['qps']:.3f} vs traced "
                                  f"{tr_st['qps']:.3f} statements/s")
    if storage:
        # the ingest rate counts the rows of the timed regions only; the
        # write amplification covers every region since start(), as the
        # file listing it divides does
        timed_rows = sum(wl.lake_user_rows(s["verb"], s["params"])
                         for s in untraced + traced if s["ok"])
        user_bytes = max(w.user_rows * w.row_bytes, 1.0)
        wrote = sum(v["all_bytes_written"] for v in storage.values())
        live = sum(w.live_rows.values()) * w.row_bytes
        disk = sum(v["bytes_on_disk"] for v in storage.values())
        region_s = sum(x["n"] / x["qps"] for x in (un, tr_st))
        m["workload.ingest_rows_per_s"] = (timed_rows / region_s, "rows/s")
        m["workload.write_amp"] = (wrote / user_bytes, "ratio")
        m["workload.space_amp"] = (disk / max(live, 1.0), "ratio")
        base["workload.ingest_rows_per_s"] = (
            f"{timed_rows} rows / {region_s:.1f} s timed")
        base["workload.write_amp"] = (
            f"{wrote} B written / {user_bytes:.0f} B handed in")
        base["workload.space_amp"] = f"{disk} B on disk / {live:.0f} B live"
    else:
        for k in ("ingest_rows_per_s", "write_amp", "space_amp"):
            m[f"workload.{k}"] = (0.0, "ratio" if "amp" in k else "rows/s")
    for k, (_, unit) in m.items():
        if unit.endswith("/stmt"):
            base[k] = f"{n} traced statements"
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, base


def print_layer_table(layer: dict, base: dict, tr, n: int) -> None:
    """Span self time and counts, then every per-layer metric."""
    counts: dict[str, int] = {}
    for s in tr.run_spans():
        counts[s["name"]] = counts.get(s["name"], 0) + 1
    selfms = tr.self_ms()
    log(f"\n{'span (timed region)':44} {'calls':>7} {'self ms':>11} "
        f"{'self ms/stmt':>13}   base: {n} statements")
    for name in sorted(selfms, key=lambda k: -selfms[k]):
        log(f"{name:44} {counts.get(name, 0):7d} {selfms[name]:11.1f} "
            f"{selfms[name] / max(n, 1):13.2f}")
    log(f"\n{'per-layer metric':44} {'value':>14}  {'unit':11} base")
    for k, v in layer.items():
        log(f"{k:44} {v['value']:14.4f}  {v['unit']:11} {base.get(k, '')}")


# -- main -----------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import dremio_oss_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {root}: {e}")
        return 2

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    corpus_dir, stamp = corpus.ensure(os.path.join(work, "corpus"), CORPUS_SF,
                                      CORPUS_SEED)

    from dremio_oss_spark.session import build_spark

    spark = build_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            # no hsperfdata file under /tmp: the run writes only inside
            # the checkout
            "-XX:-UsePerfData "
            # heap committed up front: peak RSS then does not depend on
            # when the collector chose to grow the heap
            "-Xms" + os.environ["SPARK_DRIVER_MEMORY"],
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("FATAL")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    proc = spark.sparkContext._gateway.proc
    try:
        result = run(args, spark, corpus_dir, stamp, run_dir, root,
                     jvm_pid)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    print(json.dumps(result), flush=True)
    return 0


def run(args, spark, corpus_dir, stamp, run_dir, root, jvm_pid) -> dict:
    from tracing import Py4jCounter, Tracer

    w = CLASSES[args.workload](spark, corpus_dir, run_dir, args.seed)
    tr = Tracer(spark) if args.trace else None
    py4j = Py4jCounter()
    if tr is not None:
        tr.install()
        w.tracer = tr
    setup_times = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        w.setup(i)
        setup_times.append(time.perf_counter() - t0)
    w.start()
    pids = (os.getpid(), jvm_pid)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        ticks0 = measure.cpu_ticks()
        cpu0 = [measure.proc_cpu_s(p) for p in pids]
        ids0 = (dag.nextJobId(), dag.nextStageId())
        if tr is not None:
            # an untimed warm-up region, then untraced quarter, traced
            # half, untraced quarter: comparing the traced half with both
            # untraced quarters cancels the remaining warm-up trend from
            # the tracing overhead
            tr.uninstall()
            w.tracer = None
            w.region(args.seconds / 4, "warm-up")
            w.region(args.seconds / 4, "untraced-1")
            hits0 = w.eng.plan_cache_hits
            tr.install()
            tr.phase = "run"
            w.tracer = tr
            w.region(args.seconds / 2, "traced")
            plan_hits = w.eng.plan_cache_hits - hits0
            tr.uninstall()
            w.tracer = None
            tr.phase = "after"
            w.region(args.seconds / 4, "untraced-2")
        else:
            py4j.install()
            try:
                w.region(args.seconds, "timed")
            finally:
                py4j.uninstall()
        cpu_py, cpu_jvm = (measure.proc_cpu_s(p) - c
                           for p, c in zip(pids, cpu0))
        # Spark job and stage ids are sequential: their advance counts
        # the jobs and stages the timed statements launched
        jobs = dag.nextJobId() - ids0[0]
        stages = dag.nextStageId() - ids0[1]
        ticks = measure.tick_delta(ticks0, measure.cpu_ticks())
    finally:
        w.finish()
    rss = measure.python_peak_rss_mb() + measure.proc_peak_rss_mb(jvm_pid)
    storage = w.storage() if tr is not None else None
    bad = w.check()
    defects = w.probe_defects()
    samples = w.samples
    failed = [s for s in samples if not s["ok"]]
    n_bad = len(failed) + len(bad)

    prov = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "corpus": stamp, "cpu_ticks": ticks,
            "process_cpu_s": {"python": cpu_py, "jvm": cpu_jvm},
            "loadavg": measure.loadavg(), "cores": measure.cores(),
            "versions": measure.versions(spark),
            "commit": measure.git_commit(root),
            "setup_times_s": setup_times}
    log("provenance: " + json.dumps(prov))
    for d in defects:
        log(f"KNOWN DEFECT (probe, untimed): {d}")
    for s in failed[:5]:
        log(f"FAILED: {s['sql'][:120]} -> {s['error'][:300]}")
    for i, d in list(bad.items())[:5]:
        log(f"WRONG: {samples[i]['sql'][:120]} -> {d[:300]}")
    groups: dict[str, list[float]] = {}
    for s in samples:
        g = s.get("template") or s.get("verb") and f"{s['fmt']}.{s['verb']}"
        groups.setdefault(g or s["sql"], []).append(s["ms"])
    log("median ms by statement kind: " + ", ".join(
        f"{g}={statistics.median(v):.0f} (n={len(v)})"
        for g, v in sorted(groups.items())))
    for kind in ("read", "write"):
        lat = measure.summarize([s["ms"] for s in samples
                                 if s["kind"] == kind])
        if "p50" in lat and measure.reportable(lat["n"], 50):
            tail = (f", p{lat['tail_p']:g} {lat['tail']:.1f} ms"
                    if "tail" in lat else "")
            log(f"{kind} latency: p50 {lat['p50']:.1f} ms{tail} "
                f"(n={lat['n']})")
    log(f"statements {len(samples)}, failed {len(failed)}, "
        f"wrong {len(bad)}, fail_ratio {n_bad / len(samples):.4f}")

    if tr is None:
        report_wall_clock(samples, args.seconds, cpu_py, cpu_jvm)
        metrics = end_to_end(setup_times, samples, n_bad, rss, jobs, stages,
                             py4j.calls)
        for k, v in metrics.items():
            log(f"{k:44} {v['value']:14.4f}  {v['unit']}")
    else:
        traced = [s for s in samples if s["region"] == "traced"]
        untraced = [s for s in samples
                    if s["region"].startswith("untraced")]
        metrics, base = per_layer(w, tr, traced, untraced,
                                  args.seconds / 2, storage, plan_hits)
        metrics["checks.defect_probes_failing"] = {
            "value": len(defects), "unit": "count"}
        print_layer_table(metrics, base, tr, len(traced))
        trace_path = os.path.join(os.path.dirname(run_dir),
                                  f"trace_{args.workload}_{args.seed}.jsonl")
        tr.dump(trace_path)
        log(f"spans written to {trace_path}")
    return {"correct": n_bad == 0, "attempted": len(samples),
            "failed": n_bad, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
