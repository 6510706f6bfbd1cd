"""Seeded inputs and ground truth for the ``ingest`` and ``serve`` workloads.

Everything here is plain Python/pandas/pyarrow: the expected answers are
computed from the generated records, never by Spark, so a Spark-side bug
cannot agree with itself.

``ingest``: two tenants, each with an initial load and then incremental
batches.  A batch is one LabX CSV (with a fixed share of malformed rows, one
defect each) plus HL7v2 ORU messages stored one file per message.  Incremental
batches mix new, corrected (same key, new value) and replayed (identical
bytes) records, so the merge sees insert, update and noop.

``serve``: a tenant-partitioned observation store (written later by
``ParquetStateStore.merge``), a patients table, and a seeded request mix with
the expected rows of every request.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

CODES = [  # (LOINC code, display, unit, normal lo, normal hi)
    ("718-7", "Hemoglobin", "g/dL", 12.0, 17.0),
    ("8867-4", "Heart rate", "/min", 60.0, 100.0),
    ("2345-7", "Glucose", "mg/dL", 70.0, 110.0),
    ("2160-0", "Creatinine", "mg/dL", 0.6, 1.3),
    ("8480-6", "Systolic BP", "mm[Hg]", 90.0, 140.0),
    ("8462-4", "Diastolic BP", "mm[Hg]", 60.0, 90.0),
]
SLOTS = 12  # observations per ingest patient; slot s -> code s % 6, its own time
HL7_EVERY = 10  # every 10th ingest patient arrives as HL7 instead of CSV
BASE_TIME = dt.datetime(2025, 1, 1)
INGEST_TENANTS = ("t1", "t2")

# reject reason (validate.dto_rules name) -> how the CSV row is broken
CSV_DEFECTS = ["patientId_empty", "code_empty", "value_not_finite", "unit_empty", "effectiveDateTime_invalid"]


def iso(ts: dt.datetime) -> str:
    """The engine's entityId time format (normalize.observation_entity_id)."""
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def entity_id(patient: str, code: str, ts: dt.datetime) -> str:
    return f"{patient}:{code}:{iso(ts)}"


# ---------------------------------------------------------------- ingest


class IngestSpec:
    """Sizes of the ingest workload (records per tenant and per batch)."""

    def __init__(self, initial: int, new: int, corrected: int, replayed: int, reject_rate: float,
                 batches: int):
        self.initial, self.new, self.corrected, self.replayed = initial, new, corrected, replayed
        self.reject_rate, self.batches = reject_rate, batches


class _Tenant:
    """Per-tenant entity universe: entity k is (patient k // SLOTS, slot k % SLOTS)."""

    def __init__(self, name: str):
        self.name = name
        self.next_k = 0
        self.current: dict[int, tuple[float, int]] = {}  # k -> (value, version)

    def patient(self, k: int) -> str:
        return f"{self.name.upper()}-{k // SLOTS:06d}"

    @staticmethod
    def is_hl7(k: int) -> bool:
        return (k // SLOTS) % HL7_EVERY == 0

    def key(self, k: int) -> tuple[str, str, dt.datetime]:
        p, s = divmod(k, SLOTS)
        code = CODES[s % len(CODES)][0]
        ts = BASE_TIME + dt.timedelta(hours=p * 7 + s * 5, minutes=(p * 13 + s) % 60)
        return self.patient(k), code, ts


def _value_text(v: float) -> str:
    return f"{v:.1f}"


def _obx(k: int, tenant: _Tenant, value: float) -> str:
    """OBX segment of entity k; identical bytes for identical (k, value), so a
    replay hashes to the same idempotency key."""
    _, s = divmod(k, SLOTS)
    code, name, unit, lo, hi = CODES[s % len(CODES)]
    ts = tenant.key(k)[2].strftime("%Y%m%d%H%M%S")
    return f"OBX|{s + 1}|NM|{code}^{name}^LN||{_value_text(value)}|{unit}|{lo}-{hi}|N|||F|||{ts}"


def _csv_row(k: int, tenant: _Tenant, value: float) -> str:
    patient, code, ts = tenant.key(k)
    unit = CODES[(k % SLOTS) % len(CODES)][2]
    return f"{patient},{code},{_value_text(value)},{unit},{iso(ts)}"


def _broken_csv_row(rng: random.Random, reason: str, i: int) -> str:
    patient, code, unit, value, ts = f"REJ-{i:06d}", "718-7", "g/dL", "13.2", "2025-03-01T08:00:00Z"
    if reason == "patientId_empty":
        patient = ""
    elif reason == "code_empty":
        code = ""
    elif reason == "value_not_finite":
        value = rng.choice(["n/a", "high", "NaN"])
    elif reason == "unit_empty":
        unit = ""
    elif reason == "effectiveDateTime_invalid":
        ts = rng.choice(["not-a-date", "2025-13-45T99:00:00Z"])
    return f"{patient},{code},{value},{unit},{ts}"


def _new_value(rng: random.Random, k: int) -> float:
    _, _, _, lo, hi = CODES[(k % SLOTS) % len(CODES)]
    return round(rng.uniform(lo * 0.8, hi * 1.2), 1)


def _write_batch(root: str, name: str, tenant: _Tenant, records: dict[int, float],
                 rng: random.Random, reject_rate: float, reject_base: int) -> dict:
    """Write one batch's CSV + HL7 files; return its paths and reject counts."""
    csv_rows, hl7_by_patient = [], {}
    for k, v in records.items():
        if tenant.is_hl7(k):
            hl7_by_patient.setdefault(k // SLOTS, []).append(_obx(k, tenant, v))
        else:
            csv_rows.append(_csv_row(k, tenant, v))
    rejects = {r: 0 for r in CSV_DEFECTS}
    n_bad = round(len(csv_rows) * reject_rate / (1 - reject_rate))
    for i in range(n_bad):
        reason = CSV_DEFECTS[i % len(CSV_DEFECTS)]
        rejects[reason] += 1
        csv_rows.append(_broken_csv_row(rng, reason, reject_base + i))
    rng.shuffle(csv_rows)

    bdir = os.path.join(root, name)
    hl7_dir = os.path.join(bdir, "hl7")
    os.makedirs(hl7_dir)
    csv_path = os.path.join(bdir, "labx.csv")
    with open(csv_path, "w") as f:
        f.write("patientId,code,value,unit,effectiveDateTime\n")
        f.write("\n".join(csv_rows) + "\n")
    obx_total = 0
    for p, segs in sorted(hl7_by_patient.items()):
        patient = tenant.patient(p * SLOTS)
        msg = [
            f"MSH|^~\\&|LAB|HOSP|ETL|PIPE|20250301080000||ORU^R01|{name}-{p}|P|2.5",
            f"PID|1||{patient}^^^HOSP^MR||DOE^JANE",
            "OBR|1|||PANEL^Panel^LN||20250301080000",
            *segs,
        ]
        obx_total += len(segs)
        with open(os.path.join(hl7_dir, f"{p:06d}.hl7"), "w") as f:
            f.write("\r".join(msg) + "\r")
    return {
        "csv_path": csv_path,
        "hl7_path": hl7_dir if hl7_by_patient else None,
        "csv_rows": len(csv_rows),
        "hl7_files": len(hl7_by_patient),
        "obx_segments": obx_total,
        "rejects": rejects,
        "dto_invalid": n_bad,
    }


def make_ingest(seed: int, root: str, spec: IngestSpec) -> dict:
    """Write the ingest inputs under ``root``; return batches with ground truth.

    ``initial`` lists one initial-load batch per tenant; ``incremental`` lists
    ``spec.batches`` batches alternating tenants.  Each batch carries the
    expected DTO counts, rejects per reason, commit-log action counts and the
    expected store rows of its tenant after it (``store_after``)."""
    rng = random.Random(seed)
    ts = {t: _Tenant(t) for t in INGEST_TENANTS}
    out = {"initial": [], "incremental": []}
    reject_base = 0

    def batch(name: str, t: _Tenant, n_new: int, n_corr: int, n_replay: int) -> dict:
        nonlocal reject_base
        existing = sorted(t.current)
        picked = rng.sample(existing, n_corr + n_replay) if existing else []
        corr, replay = picked[:n_corr], picked[n_corr:]
        records: dict[int, float] = {}
        for k in range(t.next_k, t.next_k + n_new):
            records[k] = _new_value(rng, k)
        for k in corr:
            old = t.current[k][0]
            v = _new_value(rng, k)
            records[k] = v if v != old else round(old + 0.1, 1)
        for k in replay:
            records[k] = t.current[k][0]
        store_before = len(t.current)
        info = _write_batch(root, name, t, records, rng, spec.reject_rate, reject_base)
        reject_base += info["dto_invalid"]
        t.next_k += n_new
        for k in range(t.next_k - n_new, t.next_k):
            t.current[k] = (records[k], 1)
        for k in corr:
            t.current[k] = (records[k], t.current[k][1] + 1)
        changes = {(t.name, entity_id(*t.key(k))): t.current[k] for k in [*range(t.next_k - n_new, t.next_k), *corr]}
        n_valid = len(records)
        info.update(
            name=name,
            tenant=t.name,
            batch_time=(BASE_TIME + dt.timedelta(days=400, hours=len(out["initial"]) + len(out["incremental"]))).isoformat(),
            input_records=info["csv_rows"] + info["obx_segments"],
            dto_valid=n_valid,
            insert=n_new,
            update=len(corr),
            noop=store_before - len(corr),
            store_after=len(t.current),
            changes=changes,
        )
        return info

    for t in ts.values():
        out["initial"].append(batch(f"init_{t.name}", t, spec.initial, 0, 0))
    for b in range(spec.batches):
        t = ts[INGEST_TENANTS[b % len(INGEST_TENANTS)]]
        out["incremental"].append(batch(f"inc_{b:03d}", t, spec.new, spec.corrected, spec.replayed))
    return out


def expected_store(plan: dict, n_incremental: int) -> dict:
    """Expected store rows after the initial loads and the first
    ``n_incremental`` incremental batches: {(tenant, entityId): (value, version)}."""
    rows: dict = {}
    for b in plan["initial"] + plan["incremental"][:n_incremental]:
        rows.update(b["changes"])
    return rows


# ----------------------------------------------------------------- serve


class ServeSpec:
    def __init__(self, tenants: int, patients: int, obs_min: int, obs_max: int, requests: int):
        self.tenants, self.patients = tenants, patients
        self.obs_min, self.obs_max, self.requests = obs_min, obs_max, requests


def make_serve(seed: int, root: str, spec: ServeSpec) -> dict:
    """Write the serve inputs (store batch + patients table) as parquet under
    ``root``; return paths and the request list with expected answers."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    rng = random.Random(seed)
    obs, pats = [], []
    for ti in range(spec.tenants):
        tenant = f"s{ti + 1}"
        for pi in range(spec.patients):
            patient = f"{tenant.upper()}-{pi:05d}"
            pats.append((tenant, patient, f"Patient {ti}-{pi}",
                         dt.date(1940, 1, 1) + dt.timedelta(days=rng.randrange(0, 25_000)),
                         dt.datetime(2025, 2, 1) + dt.timedelta(minutes=rng.randrange(0, 50_000))))
            n = rng.randint(spec.obs_min, spec.obs_max)
            minutes = sorted(rng.sample(range(0, 400 * 24 * 60), n))  # distinct times per patient
            for m in minutes:
                code, _, unit, lo, hi = rng.choice(CODES)
                ts = BASE_TIME + dt.timedelta(minutes=m)
                eid = entity_id(patient, code, ts)
                v = round(rng.uniform(lo * 0.8, hi * 1.2), 1)
                idk = "sha256:" + hashlib.sha256(f"{eid}|{v}".encode()).hexdigest()
                obs.append((tenant, "observation", eid, patient, code, v, unit, ts, idk))
    cols = ["tenantId", "entityType", "entityId", "patientId", "code", "value", "unit",
            "effectiveDateTime", "idempotencyKey"]
    odf = pd.DataFrame(obs, columns=cols)
    odf["effectiveDateTime"] = pd.to_datetime(odf["effectiveDateTime"]).dt.tz_localize("UTC")
    batch_path = os.path.join(root, "serve_batch.parquet")
    pq.write_table(pa.Table.from_pandas(odf, preserve_index=False), batch_path)

    pdf = pd.DataFrame(pats, columns=["tenantId", "patientId", "name", "birthDate", "updatedAt"])
    pdf["updatedAt"] = pd.to_datetime(pdf["updatedAt"]).dt.tz_localize("UTC")
    patients_path = os.path.join(root, "patients")
    pq.write_to_dataset(pa.Table.from_pandas(pdf, preserve_index=False), patients_path,
                        partition_cols=["tenantId"])

    return {
        "batch_path": batch_path,
        "patients_path": patients_path,
        "store_rows": len(odf),
        "requests": _requests(rng, odf, pdf, spec.requests),
    }


# the request kinds, repeated in this order; the seed picks patients, codes
# and page sizes.  A fixed kind sequence keeps the mix identical across seeds.
REQUEST_CYCLE = ["q2", "q3", "q1", "q2", "q3", "q1", "q2", "q3"]


def _requests(rng: random.Random, odf, pdf, n: int) -> list[dict]:
    """Seeded request list with expected answers (pandas only).

    Per cycle of 8: 3 Q2 first pages, each followed by its nextToken page,
    3 Q3 latest_observation, 2 Q1 get_patient."""
    by_patient = {k: g.sort_values(["effectiveDateTime", "entityId"]) for k, g in odf.groupby(["tenantId", "patientId"])}
    keys = sorted(by_patient)
    pat_rows = {(r.tenantId, r.patientId): r for r in pdf.itertuples(index=False)}
    reqs: list[dict] = []
    i = 0
    while len(reqs) < n:
        kind = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        i += 1
        tenant, patient = rng.choice(keys)
        g = by_patient[(tenant, patient)]
        if kind == "q2":
            limit = rng.choice([10, 25, 50])
            page1, page2 = g.head(limit), g.iloc[limit:2 * limit]
            reqs.append({"op": "q2", "tenant": tenant, "patient": patient, "limit": limit,
                         "expect": list(page1["entityId"]), "has_next": len(page1) == limit})
            reqs.append({"op": "q2_page", "tenant": tenant, "patient": patient, "limit": limit,
                         "expect": list(page2["entityId"])})
        elif kind == "q3":
            code = rng.choice(sorted(set(g["code"])))
            last = g[g["code"] == code].iloc[-1]
            reqs.append({"op": "q3", "tenant": tenant, "patient": patient, "code": code,
                         "expect": [last["entityId"]], "value": float(last["value"])})
        else:
            r = pat_rows[(tenant, patient)]
            reqs.append({"op": "q1", "tenant": tenant, "patient": patient,
                         "expect": [r.name], "birthDate": r.birthDate.isoformat()})
    return reqs
