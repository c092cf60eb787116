"""cypher_interactive: one closed-loop client posting seeded Cypher
requests to the query server.

The server (``brahmand_spark.server.serve`` over the TPC-H graph
session) runs on a thread of this process; the client sends its next
request only after the previous response arrived. The first cycle of
nine requests is the untimed cold pass; requests then run until the
window closes. Every response is compared afterwards with the DuckDB
twin of its template at the same literals.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

import harness
import spans as tr
from cypher import TEMPLATES, request_stream, canon_rows
from harness import median

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


class Client:
    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def post(self, query: str) -> tuple[int, bytes]:
        body = json.dumps({"query": query, "format": "JSONEachRow"})
        self.conn.request("POST", "/query", body,
                          {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def close(self) -> None:
        self.conn.close()


def _send(client, req, tracer=None, sc=None) -> dict:
    """One request; a traced request also records the shuffle bytes it
    wrote, read before and after it."""
    if tracer is None:
        t0 = time.perf_counter()
        status, body = client.post(req.cypher)
        return {"req": req, "ms": (time.perf_counter() - t0) * 1e3,
                "status": status, "body": body}
    before = tr.shuffle_written(sc)
    with tracer.request(str(req.rid)) as root:
        status, body = client.post(req.cypher)
    return {"req": req, "ms": root.dur * 1e3, "status": status,
            "body": body, "shuffle": tr.shuffle_written(sc) - before}


def _window(client, stream, seconds: float, tracer=None,
            sc=None) -> list[dict]:
    """Closed loop: the next request goes out when the previous one
    returned, until ``seconds`` have passed and the last cycle of the
    nine templates is complete, so every template is equally
    represented."""
    out = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(out) % len(TEMPLATES):
        out.append(_send(client, next(stream), tracer, sc))
    return out


def _cycle_ms(records: list[dict]) -> list[float]:
    """Wall time of each complete cycle of the nine templates."""
    n = len(TEMPLATES)
    return [sum(r["ms"] for r in records[i:i + n])
            for i in range(0, len(records) - n + 1, n)]


def _instrument(tracer: tr.Tracer, session, server, sc) -> None:
    """Wrap the layers' entry points for the traced window."""
    import brahmand_spark.server as srv
    import brahmand_spark.session as sess
    from brahmand_spark import procedures
    from brahmand_spark.compile.compiler import QueryCompiler

    tracer.count_py4j(session.spark)
    tracer.wrap(sess, "parse", "parser")
    tracer.wrap(procedures, "run_call", "compile.run_call")
    tracer.wrap(QueryCompiler, "_shortest_path_df", "algos.shortest_path")
    tracer.wrap(server.RequestHandlerClass, "do_POST", "server.handler")

    execute = session.execute

    def traced_execute(query, params=None):
        root = tracer.current()
        sc.setJobGroup(f"req-{root.rid}", "perfbench request")
        with tracer.span("compile"):
            df = execute(query, params)
        qe = df._jdf.queryExecution()
        with tracer.span("catalyst.analyze"):
            qe.analyzed()
        with tracer.span("catalyst.optimize"):
            qe.optimizedPlan()
        with tracer.span("catalyst.plan"):
            qe.executedPlan()
        root.qe = qe
        # Adaptive plans run their shuffle stages when the server opens
        # the row iterator; the rows themselves are pulled in format.
        df.toLocalIterator = tracer.timed("exec", df.toLocalIterator)
        return df

    tracer.replace(session, "execute", traced_execute)

    format_rows = srv.format_rows

    def traced_format(columns, rows, fmt, elapsed):
        pulled = {"start": None, "secs": 0.0}

        def timed_rows():
            while True:
                t0 = time.perf_counter()
                pulled["start"] = pulled["start"] or t0
                row = next(rows, None)
                pulled["secs"] += time.perf_counter() - t0
                if row is None:
                    return
                yield row

        with tracer.span("server.format"):
            chunks = list(format_rows(columns, timed_rows(), fmt, elapsed))
            tracer.add("exec", pulled["start"], pulled["secs"])
        return iter(chunks)

    tracer.replace(srv, "format_rows", traced_format)


def _layer_metrics(tracer: tr.Tracer, records: list[dict], sc) -> dict:
    """Per-layer numbers of the traced window: ms are medians per
    request of a layer's self time; counts are summed over the nine
    templates of the per-template medians (one cycle's worth)."""
    by_rid = {str(r["req"].rid): r for r in records}
    per: dict[str, list[dict]] = {t.name: [] for t in TEMPLATES}
    rows = []
    for root in tracer.roots():
        rec = by_rid.get(root.rid)
        if rec is None:
            continue
        layer = tracer.layer_self(root)
        spans: dict[str, list] = {}
        for s in tracer.descendants(root):
            spans.setdefault(s.name, []).append(s)
        jobs, tasks = tr.group_jobs(sc, f"req-{root.rid}")
        qe = getattr(root, "qe", None)
        shuffles, broadcasts = tr.exchanges(
            qe.executedPlan().toString()) if qe is not None else (0, 0)
        def own_ms(name: str) -> float:
            return sum(s.self_time for s in spans.get(name, [])) * 1e3

        row = {
            "parse": layer.get("parser", 0.0) * 1e3,
            "compile": layer.get("compile", 0.0) * 1e3,
            "py4j": tracer.layer_calls(root).get("compile", 0),
            "analyze": own_ms("catalyst.analyze"),
            "optimize": own_ms("catalyst.optimize"),
            "plan": own_ms("catalyst.plan"),
            "exchanges": shuffles, "broadcasts": broadcasts,
            "exec": layer.get("exec", 0.0) * 1e3,
            "jobs": jobs, "tasks": tasks, "shuffle": rec["shuffle"],
            "format": own_ms("server.format"),
            "bytes": len(rec["body"]),
            "http": root.self_time * 1e3 + own_ms("server.handler"),
            "algos": sum(s.dur for s in spans.get("algos.shortest_path", [])),
            "coverage": tracer.coverage(root),
        }
        rows.append(row)
        per[rec["req"].template].append(row)

    def med(key, group=None):
        return median(r[key] for r in (group if group is not None else rows))

    def per_cycle(key):
        return sum(med(key, g) for g in per.values() if g)

    m = {
        "parser.parse_ms": med("parse"),
        "compile.ms": med("compile"),
        "compile.py4j_calls": med("py4j"),
        "catalyst.analyze_ms": med("analyze"),
        "catalyst.optimize_ms": med("optimize"),
        "catalyst.plan_ms": med("plan"),
        "catalyst.exchanges": per_cycle("exchanges"),
        "catalyst.broadcasts": per_cycle("broadcasts"),
        "exec.ms": med("exec"),
        "exec.jobs": per_cycle("jobs"),
        "exec.tasks": per_cycle("tasks"),
        "exec.shuffle_bytes": per_cycle("shuffle"),
        "server.format_ms": med("format"),
        "server.response_bytes": med("bytes"),
        "server.http_ms": med("http"),
    }
    for name, g in per.items():
        m[f"compile.{name}.ms"] = med("compile", g) if g else 0.0
        m[f"exec.{name}.ms"] = med("exec", g) if g else 0.0
    sp = per["shortest_path"]
    m["algos.shortest_path.build_s"] = med("algos", sp) if sp else 0.0
    m["algos.shortest_path.exec_s"] = med("exec", sp) / 1e3 if sp else 0.0
    m["algos.shortest_path.jobs"] = med("jobs", sp) if sp else 0
    m["trace.coverage_min"] = min(r["coverage"] for r in rows)
    return m


def run_workload(run: harness.Run) -> tuple[dict, dict]:
    import duckdb

    from brahmand_spark.server import serve

    sizes = harness.generate_inputs(run)
    tracer = tr.Tracer() if run.trace else None
    spark, session, spark_s, graph_s = harness.setup(run, tracer)
    t0 = time.perf_counter()
    server = serve(session, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    client = Client(server.server_address[1])
    ready_s = time.perf_counter() - t0
    setup_s = spark_s + graph_s + ready_s
    run.mark("setup")
    run.info["host.canary_s"] = harness.host_canary(spark)
    run.mark("canary")

    n_cust = sizes["customer"]
    stream = request_stream(run.seed, n_cust)
    cold = [_send(client, next(stream)) for _ in TEMPLATES]
    cold_s = sum(r["ms"] for r in cold) / 1e3
    run.mark("cold")

    # A traced run times the same window with spans on.
    sc = spark.sparkContext
    layer = {}
    if tracer is not None:
        _instrument(tracer, session, server, sc)
        try:
            timed = _window(client, stream, run.seconds, tracer, sc)
        finally:
            tracer.unwrap()
        layer = _layer_metrics(tracer, timed, sc)
        tracer.dump(run.spans_path)
    else:
        timed = _window(client, stream, run.seconds)
    rss = harness.peak_rss_mb(spark)
    client.close()
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    run.mark("measure")

    # Correctness, outside the timed region.
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{run.data}/{t}.parquet'")
    for rec in cold + timed:
        run.attempted += 1
        req = rec["req"]
        if rec["status"] != 200:
            run.fail(req.template, rec["body"].decode(errors="replace"))
            continue
        got = [json.loads(line) for line in rec["body"].splitlines()]
        cur = con.execute(req.sql)
        names = [d[0] for d in cur.description]
        want = [dict(zip(names, row)) for row in cur.fetchall()]
        if run.corrupt:
            want = want + [{"corrupted": True}]
        if canon_rows(got) != canon_rows(want):
            run.fail(req.template,
                     f"rid {req.rid}: {len(got)} rows, twin {len(want)}")
    con.close()
    run.mark("check")

    layer_setup = {"setup.spark_s": spark_s, "setup.graph_s": graph_s}
    cycles = _cycle_ms(timed)
    if tracer is not None:
        layer["trace.pass_s"] = median(cycles) / 1e3
        return {}, {**layer, **layer_setup}
    ms = [r["ms"] for r in timed]
    p90, p90_pct = harness.tail(ms)
    run.info.update({"requests": len(timed), "latency_p90_pct": p90_pct,
                     "cycles": len(cycles)})
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "pass_s": (median(cycles) / 1e3, "s"),
        "latency_p50_ms": (median(ms), "ms"),
        "latency_p90_ms": (p90, "ms"),
        "throughput_qps": (len(timed) / (sum(ms) / 1e3), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return e2e, layer_setup
