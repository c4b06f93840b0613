"""One REST client pass against the in-process ``service.serve()``.

The pass is the reference rest-app lifecycle: ``POST /import`` and
``POST /prepare`` (the write path, through ``importer``), then one registry
algorithm as configure → run → poll state → GET result → DELETE (the read
path). Each HTTP call is a span in the traced run.
"""

from __future__ import annotations

import json
import time
import urllib.request
from typing import Optional

#: a job that is not HALTED within this many seconds counts as failed
JOB_TIMEOUT_S = 120.0
POLL_S = 0.05
ALGORITHM = "wcc"
NUM_ITERATIONS = 2


class RestClient:
    def __init__(self, spark, work_dir, edges_file: str, nproc: int, tracer):
        from kafka_graphs_spark import service

        self.store = str(work_dir / "store")
        self.server = service.serve(spark, self.store, port=0)
        self.base = "http://127.0.0.1:%d" % self.server.server_address[1]
        self.edges_file = edges_file
        self.nproc = nproc
        self.tracer = tracer
        self.spark = spark
        self.conf_at_start = dict(spark.conf.getAll)
        self.calls: dict[str, list[float]] = {}
        self.polls: list[int] = []
        self.latencies: list[float] = []

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def _call(self, name: str, method: str, path: str, body: Optional[dict] = None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        t0 = time.time()
        with self.tracer.span(f"service.http.{name}"):
            with urllib.request.urlopen(req, timeout=JOB_TIMEOUT_S) as resp:
                out = json.loads(resp.read())
        self.calls.setdefault(name, []).append(time.time() - t0)
        return out

    def one_pass(self) -> tuple:
        """(rows, checksum, result rows) for the timed op."""
        self._call("import", "POST", "/import", {
            "edgesFile": self.edges_file, "edgesTopic": "edges",
            "edgeValueType": "double", "numPartitions": self.nproc})
        self._call("prepare", "POST", "/prepare", {
            "edgesTopic": "edges", "edgesGroupedBySourceTopic": "edgesGrouped",
            "numPartitions": self.nproc})
        t0 = time.time()
        algo_id = self._call("configure", "POST", "/pregel", {
            "algorithm": ALGORITHM, "edgesGroupedBySourceTopic": "edgesGrouped"})["id"]
        t_run = time.time()
        self._call("run", "POST", f"/pregel/{algo_id}", {"numIterations": NUM_ITERATIONS})
        polls, state = 0, "RUNNING"
        while state == "RUNNING":
            if time.time() - t_run > JOB_TIMEOUT_S:
                raise TimeoutError(f"{ALGORITHM} not HALTED after {JOB_TIMEOUT_S}s")
            time.sleep(POLL_S)
            polls += 1
            st = self._call("state", "GET", f"/pregel/{algo_id}")
            state = st["state"]
        self.calls.setdefault("halt", []).append(time.time() - t_run)
        self.polls.append(polls)
        if state != "HALTED":
            raise RuntimeError(f"{ALGORITHM} ended in {state}: {st.get('error')}")
        rows = [(r["key"], r["value"]) for r in
                self._call("result", "GET", f"/pregel/{algo_id}/result")]
        self.latencies.append(time.time() - t0)
        self._call("delete", "DELETE", f"/pregel/{algo_id}")
        h = sum((int(k) * 1000003 + int(v)) % 2147483647 for k, v in rows)
        return len(rows), h, rows

    def check(self, rows) -> Optional[str]:
        """Compare with a direct sequential call of the same registry function."""
        from pyspark.sql import functions as F

        from kafka_graphs_spark import Graph
        from kafka_graphs_spark.library.registry import ALGORITHMS

        spec = ALGORITHMS[ALGORITHM]
        edges = self.spark.read.parquet(f"{self.store}/edgesGrouped")
        graph = Graph.from_edges(edges, spec.initial_vertex_value(F.col("id")))
        want = sorted(tuple(r) for r in spec.run(graph, max_iterations=NUM_ITERATIONS)
                      .select("id", "value").collect())
        got = sorted(rows)
        if got != want:
            bad = [(a, b) for a, b in zip(got, want) if a != b]
            return f"{len(got)} rows vs {len(want)} direct, e.g. {bad[:1]}"
        return None

    def conf_drift_keys(self) -> int:
        now = dict(self.spark.conf.getAll)
        keys = set(now) | set(self.conf_at_start)
        return sum(1 for k in keys if now.get(k) != self.conf_at_start.get(k))
