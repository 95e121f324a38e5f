"""The benchmark's workloads: their inputs, warm-up, op lists and checks.

A workload runs a fixed op list in whole passes. ``Run`` (see run.py)
supplies the session, the span scope and the run's directories; the
engine sees only the inputs generated here from the seed.

* ``ingest`` — one client, closed loop. Each op uploads one seeded raw
  detection document through ``Engine.process_document`` (all 10
  domains per pass; gold alternates plain/versioned; bulk-index export
  on), then reads it back: a selective ``Engine.query_gold`` lookup and
  a serving-view query.
* ``stream_media`` — one client, registry rows at sf0.1: streaming rows
  (trigger lifecycle, foreachBatch and stateful Python callbacks) and
  media rows (Python DataSource, codec UDF).
* ``iterative`` — one client, registry rows at sf0.01 bound by job
  count (the graph loops' eager per-round jobs). Runnable by name; it
  is not in BENCHMARK.json.

NOTES.md says why these rows, and what the run-time budget leaves out.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import docs

#: frames per upload, by position in a pass: many small, two with
#: thousands of frames (the same sizes every pass and every seed)
UPLOAD_FRAMES = (40, 25, 1500, 60, 30, 45, 20, 2500, 35, 50)
#: upload positions that carry one malformed part next to the document
MALFORMED_AT = (3, 8)
WARMUP_FRAMES = 6
PASSES_GENERATED = 2


class Ingest:
    name = "ingest"
    clients = 1
    sf = None

    def prepare(self, cache: str, seed: int) -> None:
        """Write every upload directory for ``PASSES_GENERATED`` passes
        plus the warm-up, with the generator's expectations."""
        self.uploads: list[list[dict]] = []
        rng = random.Random(seed)
        for p in range(PASSES_GENERATED + 1):
            warm = p == PASSES_GENERATED
            batch = []
            for i, domain in enumerate(docs.DOMAINS):
                n = WARMUP_FRAMES if warm else UPLOAD_FRAMES[i]
                doc = docs.GENERATORS[domain](rng, n)
                path = os.path.join(cache, "warmup" if warm else f"pass{p}", f"{i:02d}_{domain}")
                bad = not warm and i in MALFORMED_AT
                if not os.path.isdir(path):
                    os.makedirs(path + ".tmp", exist_ok=True)
                    with open(os.path.join(path + ".tmp", "doc.json"), "w") as f:
                        json.dump(doc.body, f)
                    if bad:
                        with open(os.path.join(path + ".tmp", "part-x.json"), "w") as f:
                            f.write(docs.MALFORMED)
                    os.replace(path + ".tmp", path)
                size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
                batch.append({"domain": domain, "path": path, "doc": doc,
                              "corrupt": int(bad), "bytes": size,
                              "versioned": (i + p) % 2 == 1})
            self.uploads.append(batch)
        self.warmup_uploads = self.uploads.pop()

    def setup(self, run) -> list[str]:
        """Warm every domain's upload path: one tiny upload per domain,
        nproc at a time (warm-up only; the timed loop is one client)."""
        lake = os.path.join(run.work, "warmup-lake")
        with ThreadPoolExecutor(max_workers=run.cpus) as ex:
            done = list(ex.map(lambda u: _guarded(self._upload, run, u, lake),
                               self.warmup_uploads))
        return [f"warm-up {e}" for ok, _, e in done if not ok]

    def ops(self, run, pass_no: int):
        lake = os.path.join(run.work, "lake")
        for u in self.uploads[pass_no % len(self.uploads)]:
            yield f"upload:{u['domain']}", lambda u=u: self._upload(run, u, lake)

    def _upload(self, run, u: dict, lake: str):
        """One closed-loop op: upload and refresh the dashboards, then
        the post-upload reads. Returns (ok, read seconds, mismatch)."""
        doc, domain = u["doc"], u["domain"]
        out = os.path.join(lake, "versioned" if u["versioned"] else "plain")
        res = run.engine.process_document(
            u["path"], domain, out, export_index=True, versioned_gold=u["versioned"]
        )
        views = [v for v in run.engine.refresh_serving_views()
                 if v.startswith(f"serving_{domain}_")]
        t0 = time.perf_counter()
        col, val = doc.lookup
        with run.scope("serving.read", "serving"):
            hits = run.engine.query_gold(domain, [(col, "=", val)]).collect()
            view_rows = run.engine.sql(f"SELECT * FROM {views[0]}").collect()
        read_s = time.perf_counter() - t0
        got = (res.status, res.silver_rows, res.gold_rows, res.corrupt_docs)
        want = (1, doc.silver, doc.gold, u["corrupt"])
        ecol, evalue = doc.expect
        looked = [r[ecol] for r in hits]
        if got != want:
            return False, read_s, f"{domain}: (status, silver, gold, corrupt) {got} != {want}"
        if looked != [evalue]:
            return False, read_s, f"{domain}: lookup {col}={val!r} gave {ecol}={looked} not [{evalue!r}]"
        if not view_rows:
            return False, read_s, f"{domain}: serving view {views[0]} is empty"
        return True, read_s, ""

    def check(self, run) -> list:
        return []  # every upload is checked inside its op

    def input_bytes(self, passes: int) -> int:
        return sum(u["bytes"] for p in range(passes)
                   for u in self.uploads[p % len(self.uploads)])

    def lake_bytes(self, run) -> int:
        return _du(os.path.join(run.work, "lake"))


class Registry:
    """Registry rows run one after another by one closed-loop client;
    each op builds the row's DataFrame (eager jobs, streaming triggers)
    and collects it. Every collected result is compared with the row's
    DuckDB oracle on the same generated tables."""

    clients = 1

    def __init__(self, name: str, rows: tuple[str, ...], sf: float):
        self.name, self.rows, self.sf = name, rows, sf

    def prepare(self, cache: str, seed: int) -> None:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"))
        import gen_sf

        self.sf_dir = os.path.join(cache, f"sf{self.sf}")
        if not os.path.isdir(self.sf_dir):
            with contextlib.redirect_stdout(io.StringIO()):
                gen_sf.generate(self.sf, self.sf_dir + ".tmp", seed)
            os.replace(self.sf_dir + ".tmp", self.sf_dir)
        self.results: list[tuple] = []

    def _names(self):
        from datalake_backend_spark.queries import QUERIES

        by_prefix = {k.split("_")[0]: k for k in QUERIES}
        return [by_prefix[r] for r in self.rows]

    def setup(self, run) -> list[str]:
        """Warm-up: one full pass, nproc rows at a time (warm-up only;
        the timed loop is one client); :meth:`check` checks its results
        too."""
        with ThreadPoolExecutor(max_workers=run.cpus) as ex:
            done = list(ex.map(_guarded, [op for _, op in self.ops(run, -1)]))
        return [f"warm-up {e}" for ok, _, e in done if not ok]

    def ops(self, run, pass_no: int):
        from datalake_backend_spark.queries import QUERIES

        for name in self._names():
            yield name, lambda name=name: self._run_row(run, name, QUERIES[name].fn)

    def _run_row(self, run, name: str, fn):
        # every op is one dashboard read: the row computed and fetched
        t0 = time.perf_counter()
        df = run.traced(fn)(run.spark, self.sf_dir)
        with run.scope("queries.run", "queries"):
            rows = df.collect()
        read_s = time.perf_counter() - t0
        self.results.append((name, run.phase, list(df.columns), rows))
        return True, read_s, ""

    def check(self, run) -> list[tuple[str, str, str]]:
        """Compare every collected result with its row's oracle; returns
        (row, phase, cause) for each mismatch."""
        import duckdb

        from datalake_backend_spark.queries import QUERIES
        from datalake_backend_spark.sources.readers import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t + '.parquet')}'")
        want: dict[str, tuple] = {}
        bad = []
        for name, phase, spark_cols, rows in self.results:
            if name not in want:
                sql = QUERIES[name].oracle
                rel = con.sql(sql)
                cols = sorted(rel.columns)
                idx = [rel.columns.index(c) for c in cols]
                want[name] = (cols, Counter(tuple(repr(r[i]) for i in idx)
                                            for r in rel.fetchall()))
            cols, expected = want[name]
            if sorted(spark_cols) != cols:
                bad.append((name, phase, f"columns {sorted(spark_cols)} != {cols}"))
                continue
            got = Counter(tuple(repr(r[c]) for c in cols) for r in rows)
            if got != expected:
                bad.append((name, phase, f"{len(rows)} rows vs oracle "
                            f"{sum(expected.values())}; values differ"))
        con.close()
        return bad

    def input_bytes(self, passes: int) -> int:
        return _du(self.sf_dir)

    def lake_bytes(self, run) -> int:
        """Inputs plus everything the rows left in the lake: the run's
        own directory and this process's tables under the warehouse."""
        wh = os.path.join(run.root, "spark-warehouse")
        mine = [os.path.join(wh, d) for d in os.listdir(wh)
                if d.endswith(f"_{os.getpid()}")] if os.path.isdir(wh) else []
        return _du(self.sf_dir) + sum(_du(d) for d in mine) + _du(os.path.join(run.work, "lake"))


def _guarded(fn, *args):
    """Run a warm-up op; a raise is reported like a failed check."""
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 — the run goes on and reports it
        return False, None, f"{type(e).__name__}: {e}"


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


WORKLOADS = {
    "ingest": Ingest,
    "stream_media": lambda: Registry(
        "stream_media", ("q111", "r66", "r80", "q137", "r127"), sf=0.1
    ),
    "iterative": lambda: Registry(
        "iterative", ("q145", "r170", "r206", "q147", "r187"), sf=0.01
    ),
}
