"""The three workloads: ``ingest`` (write path), ``serve`` (query API),
``batch`` (registry queries).  Each is a closed loop: one client, one process.

A workload is a class with ``setup()`` (timed as set-up: input generation,
warm-up and the check pass) and ``step()`` (one timed operation, or one pass
for ``batch``).  Every operation's output is checked against ground truth
that was computed without Spark; a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import random
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

INGEST_SPEC = gen.IngestSpec(initial=6_000, new=1_200, corrected=300, replayed=300,
                             reject_rate=0.02, batches=16)
SERVE_SPEC = gen.ServeSpec(tenants=4, patients=150, obs_min=60, obs_max=120, requests=600)
SERVE_WARMUP = 33  # requests answered (and checked) before timing starts
BATCH_SF = 0.001  # tools/gen_testdata.py scale: 60k lineitem, 10k events, 500 documents
BATCH_GROUPS = {
    # build-heavy LLM-data funnels: eager materialize jobs and Arrow kernels inside fn()
    "curation": ["curation_e2e", "dedup_embedding_lsh"],
    # execution-heavy SQL shapes: at most one job at build, then scan/shuffle/aggregate
    "analytics": ["g7_tpch_q1", "j6_star_join", "g7d_tpch_q5", "j5b_asof_join",
                  "q3_latest_observation", "u1_idempotent_merge"],
}
HASHES_PATH = os.path.join(HERE, "batch_hashes.json")


class Op:
    """One timed operation: its kind, id, wall seconds and whether its output
    was correct."""

    __slots__ = ("kind", "id", "seconds", "ok", "detail")

    def __init__(self, kind, id, seconds, ok, detail=None):
        self.kind, self.id, self.seconds, self.ok, self.detail = kind, id, seconds, ok, detail


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _guarded(fn, *a):
    """Run ``fn``; an exception is a failed operation, reported on stderr."""
    try:
        return fn(*a), None
    except Exception as e:  # the loop must keep measuring; the failure is counted
        print(f"operation failed: {type(e).__name__}: {str(e)[:400]}", file=sys.stderr)
        return None, e


# ------------------------------------------------------------------ ingest


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.done = 0
        self.input_records = 0

    def setup(self):
        from etl_healthcare_spark.pipeline import run_batch_pipeline  # noqa: F401  (import cost is set-up)

        c = self.ctx
        self.state = os.path.join(c.work, "store")
        self.audit = os.path.join(c.work, "audit")
        with c.phase("generate"):
            self.plan = gen.make_ingest(c.seed, os.path.join(c.work, "ingest_in"), INGEST_SPEC)
        for b in self.plan["initial"]:
            with c.phase(b["name"]):
                ok, _ = self._batch(b)
            c.checks.append(("ingest." + b["name"], ok))

    def has_next(self) -> bool:
        return self.done < len(self.plan["incremental"])

    def _batch(self, b):
        """run_batch_pipeline + reduce its commit log to action counts."""
        from etl_healthcare_spark.pipeline import run_batch_pipeline

        c = self.ctx
        t0 = time.perf_counter()
        res = run_batch_pipeline(
            c.spark, tenant_id=b["tenant"], state_dir=self.state, csv_path=b["csv_path"],
            hl7_path=b["hl7_path"], audit_dir=self.audit, batch_time=dt.datetime.fromisoformat(b["batch_time"]))
        acts = {r["action"]: r["count"] for r in res.commit_log.groupBy("action").count().collect()}
        el = time.perf_counter() - t0
        want = {k: b[k] for k in ("insert", "update", "noop") if b[k]}
        ok = (res.dto_valid == b["dto_valid"] and res.dto_invalid == b["dto_invalid"]
              and res.fhir_invalid == 0 and acts == want)
        got = {"dto_valid": res.dto_valid, "dto_invalid": res.dto_invalid, "fhir_invalid": res.fhir_invalid, **acts}
        if not ok:
            print(f"ingest {b['name']}: got valid={res.dto_valid} invalid={res.dto_invalid} "
                  f"fhir_invalid={res.fhir_invalid} actions={acts}; want valid={b['dto_valid']} "
                  f"invalid={b['dto_invalid']} actions={want}", file=sys.stderr)
        return ok, got

    def step(self) -> list[Op]:
        c = self.ctx
        b = self.plan["incremental"][self.done]
        self.done += 1
        with c.tracer.span("ingest.batch", op=b["name"]):
            t0 = time.perf_counter()
            out, err = _guarded(self._batch, b)
            el = time.perf_counter() - t0
        ok = err is None and out[0]
        self.input_records += b["input_records"]
        if c.trace:
            self._probe_layers(b)
        return [Op("batch", b["name"], el, ok, {"input_records": b["input_records"], **(out[1] if out else {})})]

    def _dto(self, b):
        from etl_healthcare_spark.operators.normalize import union_branches
        from etl_healthcare_spark.sources.csv_labx import parse_labx_csv
        from etl_healthcare_spark.sources.hl7 import parse_hl7v2

        spark = self.ctx.spark
        branches = [parse_labx_csv(spark, b["csv_path"])]
        if b["hl7_path"]:
            branches.append(parse_hl7v2(spark, b["hl7_path"], batch_time=dt.datetime.fromisoformat(b["batch_time"])))
        return union_branches(*branches)

    def _probe_layers(self, b) -> None:
        """Traced run only: time the layers of run_batch_pipeline's composition
        by writing successive prefixes to the noop sink (differences are taken
        when the metrics are computed)."""
        from pyspark.sql import functions as F

        from etl_healthcare_spark.operators.fhir import map_to_fhir
        from etl_healthcare_spark.operators.normalize import build_normalized_envelope
        from etl_healthcare_spark.operators.validate import REJECT_COL, validate_dto, validate_fhir

        c, tr = self.ctx, self.ctx.tracer
        with tr.span("probe", op=b["name"]):
            dto = self._dto(b)
            with tr.span("probe.sources"):
                noop_write(dto)
            valid, rejected = validate_dto(dto)
            with tr.span("probe.validate"):
                noop_write(valid)
            fhir_valid = validate_fhir(map_to_fhir(valid)).valid
            with tr.span("probe.fhir"):
                noop_write(fhir_valid)
            env = build_normalized_envelope(fhir_valid.drop("fhir"), tenant_id=F.lit(b["tenant"]),
                                            source=F.col("sourceSystem"), idempotency_key=F.col("ingestHash"))
            with tr.span("probe.normalize"):
                noop_write(env)
            # rejects per reason equal the generator's injected defects
            got = {r[0]: r[1] for r in rejected.groupBy(REJECT_COL).count().collect()}
        want = {k: v for k, v in b["rejects"].items() if v}
        if got != want:
            print(f"ingest {b['name']} rejects by reason: got {got}, want {want}", file=sys.stderr)
        c.checks.append((f"ingest.{b['name']}.rejects_by_reason", got == want))

    def final_check(self) -> bool:
        """Store content (read with DuckDB) and audit line count after the run."""
        import duckdb

        want = gen.expected_store(self.plan, self.done)
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT tenantId, entityId, value, version FROM read_parquet('{self.state}/*/*.parquet', "
            "hive_partitioning = true)").fetchall()
        got = {(t, e): (v, ver) for t, e, v, ver in rows}
        ok_store = len(rows) == len(want) and got == want
        n_lines = 0
        for d, _, files in os.walk(self.audit):
            for f in files:
                if f.endswith(".json"):
                    with open(os.path.join(d, f), "rb") as fh:
                        n_lines += sum(1 for _ in fh)
        batches = self.plan["initial"] + self.plan["incremental"][: self.done]
        want_lines = sum(b["insert"] + b["update"] + b["noop"] for b in batches)
        if not ok_store or n_lines != want_lines:
            print(f"ingest final: store rows {len(rows)} want {len(want)} (equal={got == want}); "
                  f"audit lines {n_lines} want {want_lines}", file=sys.stderr)
        return ok_store and n_lines == want_lines

    def work(self, ops: list[Op]) -> float:
        return sum(o.detail["input_records"] for o in ops)

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops]

    def summary(self, ops: list[Op]) -> dict:
        """The workload-named end-to-end figures."""
        tot = sum(o.seconds for o in ops)
        return {
            "ingest_records_per_s": (self.input_records / tot, "1/s", len(ops)),
            "ingest_batch_p50_s": (percentile([o.seconds for o in ops], 50), "s", len(ops)),
        }


# ------------------------------------------------------------------- serve


class Serve:
    def __init__(self, ctx):
        self.ctx = ctx
        self.i = 0
        self.tokens: dict = {}
        self.rows_returned = 0

    def setup(self):
        from etl_healthcare_spark.operators.persist import ParquetStateStore

        c = self.ctx
        with c.phase("generate"):
            self.sv = gen.make_serve(c.seed, os.path.join(c.work, "serve_in"), SERVE_SPEC)
        store = ParquetStateStore(c.spark, os.path.join(c.work, "store"))
        with c.phase("merge"), c.tracer.span("serve.setup_merge", op="setup"):
            store.merge(c.spark.read.parquet(self.sv["batch_path"]), updated_at=dt.datetime(2025, 6, 1))
        self.obs = store.read()
        self.patients = c.spark.read.parquet(self.sv["patients_path"])
        reqs = self.sv["requests"]
        with c.phase("warmup"):
            for r in reqs[:SERVE_WARMUP]:
                c.checks.append((f"serve.warmup.{r['op']}", self._request(r)[0]))
        self.i = SERVE_WARMUP

    def has_next(self) -> bool:
        return True

    def _request(self, r) -> tuple[bool, int]:
        """Build the DataFrame, collect its rows, compute the token; check."""
        from etl_healthcare_spark.operators.pagination import next_token_from_rows
        from etl_healthcare_spark.plans import queries as Q

        c, tr = self.ctx, self.ctx.tracer
        op, t, p = r["op"], r["tenant"], r["patient"]
        sort_cols = ["effectiveDateTime", "entityId"]
        if op == "q1":
            df = Q.get_patient(self.patients, t, p)
        elif op == "q2":
            df = Q.observations_by_patient(self.obs, t, p, limit=r["limit"])
        elif op == "q2_page":
            df = Q.observations_by_patient(self.obs, t, p, limit=r["limit"], token=self.tokens.get((t, p, r["limit"])))
        else:
            df = Q.latest_observation(self.obs, t, p, r["code"])
        if c.trace:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("serve.collect"):
            rows = df.collect()
        if op == "q1":
            ok = (len(rows) == 1 and rows[0]["name"] == r["expect"][0]
                  and rows[0]["birthDate"].isoformat() == r["birthDate"])
        elif op in ("q2", "q2_page"):
            token = next_token_from_rows(rows, sort_cols, r["limit"])
            ok = [x["entityId"] for x in rows] == r["expect"]
            if op == "q2":
                ok = ok and (token is not None) == r["has_next"]
                self.tokens[(t, p, r["limit"])] = token
        else:
            ok = ([x["entityId"] for x in rows] == r["expect"]
                  and len(rows) == 1 and abs(rows[0]["value"] - r["value"]) < 1e-9)
        return ok, len(rows)

    def step(self) -> list[Op]:
        c = self.ctx
        reqs = self.sv["requests"]
        r = reqs[self.i % len(reqs)]
        self.i += 1
        with c.tracer.span(f"serve.{r['op']}", op=f"req{self.i}"):
            t0 = time.perf_counter()
            out, err = _guarded(self._request, r)
            el = time.perf_counter() - t0
        if err is None:
            self.rows_returned += out[1]
        return [Op(r["op"], f"req{self.i}", el, err is None and out[0])]

    def final_check(self) -> bool:
        return True

    def work(self, ops: list[Op]) -> float:
        return len(ops)

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops]

    def summary(self, ops: list[Op]) -> dict:
        lat = [o.seconds * 1000 for o in ops]
        return {
            "serve_p50_ms": (percentile(lat, 50), "ms", len(ops)),
            "serve_p95_ms": (percentile(lat, 95), "ms", len(ops)),
        }


# ------------------------------------------------------------------- batch


def norm_cell(v) -> str:
    """tools/check.py's order-insensitive cell rendering."""
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v is None or v != v:  # NaN
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def frame_hash(pdf) -> tuple[int, str]:
    """(rows, hash) in the tools/check.py convention: columns sorted, rows
    stringified and sorted, sha256 prefix."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def make_batch_data(root: str, out_dir: str) -> None:
    """Generate the batch tables with the repository's own testdata generator
    (deterministic hash arithmetic; no seed)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import gen_testdata
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.generate(BATCH_SF, out_dir)


class Batch:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.passes: list[dict[str, float]] = []

    def setup(self):
        c = self.ctx
        self.data = os.path.join(c.work, "batch_data")
        with c.phase("generate"):
            make_batch_data(c.root, self.data)
        with open(HASHES_PATH) as f:
            want = json.load(f)["hashes"]
        # the check pass doubles as the warm-up
        with c.phase("check_pass"):
            self._check_pass(want)

    def _check_pass(self, want):
        from etl_healthcare_spark.plans.registry import REGISTRY

        c = self.ctx
        for g, names in BATCH_GROUPS.items():
            for q in self._order(names):
                with c.tracer.span("batch.check", op=f"check:{q}"):
                    got, err = _guarded(lambda: frame_hash(REGISTRY[q].fn(c.spark, self.data).toPandas()))
                ok = err is None and list(got) == want[q]
                if not ok:
                    print(f"batch {q}: got {got}, oracle {want[q]}", file=sys.stderr)
                c.checks.append((f"batch.{q}", ok))

    def _order(self, names):
        names = list(names)
        self.rng.shuffle(names)
        return names

    def has_next(self) -> bool:
        return True

    def _query(self, q):
        from etl_healthcare_spark.plans.registry import REGISTRY

        c, tr = self.ctx, self.ctx.tracer
        with tr.span("plans.build"):
            df = REGISTRY[q].fn(c.spark, self.data)
        if c.trace:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.noop_write"):
            noop_write(df)

    def step(self) -> list[Op]:
        """One pass: every group, queries in seeded order."""
        c = self.ctx
        ops, sums = [], {}
        n = len(self.passes)
        for g, names in BATCH_GROUPS.items():
            sums[g] = 0.0
            for q in self._order(names):
                with c.tracer.span(f"batch.{g}", op=f"pass{n}:{q}", query=q, group=g):
                    t0 = time.perf_counter()
                    _, err = _guarded(self._query, q)
                    el = time.perf_counter() - t0
                sums[g] += el
                ops.append(Op(g, q, el, err is None))
        self.passes.append(sums)
        return ops

    def final_check(self) -> bool:
        return True

    def work(self, ops: list[Op]) -> float:
        return len(ops)

    def latencies(self, ops: list[Op]) -> list[float]:
        """One latency per pass: the summed query times of every group.
        Eight distinct queries make a poor sample for percentiles; pass
        sums are stable, whether one or several passes fit the run."""
        return [sum(p.values()) for p in self.passes]

    def summary(self, ops: list[Op]) -> dict:
        n = len(self.passes)
        return {f"batch_{g}_s": (percentile([p[g] for p in self.passes], 50), "s", n) for g in BATCH_GROUPS}


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


WORKLOADS = {"ingest": Ingest, "serve": Serve, "batch": Batch}
