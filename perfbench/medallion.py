"""Seeded, reference-shaped medallion sources and their generator-known truth.

``MedallionSources(seed, scale)`` builds the rows of both hospitals' five EMR
tables, the two claims files, the CPT code list and ``load_config.csv`` in
the layout ``pipeline/fixtures.py`` uses, with the same edge cases at volume:

- hospital B's patients file carries the drifted header (``ID``, ``F_Name``
  ... ``Updated_Date``);
- NULL business keys, ``'null'`` string sentinels and NULL-valued
  required columns (quarantine paths);
- bad numerics (``Amount``, ``NPI``, ``ProcedureCode``) for SAFE_CAST;
- exact duplicate rows (DISTINCT / ``dropDuplicates``);
- business keys shared across hospitals (disambiguated by datasource).

``apply_delta()`` is the run-2 change set: a few percent of clean patients,
encounters and transactions get a changed tracked column and a
``ModifiedDate`` past run 1's watermark, and new rows are appended (new
claims ride along for the new transactions).

``expected()`` is a pure-Python model of what the pipeline must leave
behind after run 1 or run 2: audit rows per config row, SCD2 key states per
silver entity, and the row count of every gold mart. It follows the
runner's documented semantics, including the reference's half-SCD2 quirk
(a changed row is expired and its new version is not re-inserted in the
same run).
"""

from __future__ import annotations

import os
import random
from collections import Counter, defaultdict
from datetime import datetime, timedelta

RUN1 = datetime(2024, 6, 1, 5, 0, 0)
RUN2 = datetime(2025, 6, 1, 5, 0, 0)

HOSPITALS = (("hospital_a_db", "hospital-a", "A", "hospital1"),
             ("hospital_b_db", "hospital-b", "B", "hospital2"))
INCREMENTAL = ("patients", "encounters", "transactions")
FULL = ("providers", "departments")

PAT_HDR_A = ["PatientID", "FirstName", "LastName", "MiddleName", "SSN",
             "PhoneNumber", "Gender", "DOB", "Address", "ModifiedDate"]
PAT_HDR_B = ["ID", "F_Name", "L_Name", "M_Name", "SSN", "PhoneNumber",
             "Gender", "DOB", "Address", "Updated_Date"]
ENC_HDR = ["EncounterID", "PatientID", "EncounterDate", "EncounterType",
           "ProviderID", "DepartmentID", "ProcedureCode", "InsertedDate",
           "ModifiedDate"]
TRX_HDR = ["TransactionID", "EncounterID", "PatientID", "ProviderID",
           "DeptID", "VisitDate", "ServiceDate", "PaidDate", "VisitType",
           "Amount", "AmountType", "PaidAmount", "ClaimID", "PayorID",
           "ProcedureCode", "ICDCode", "LineOfBusiness", "MedicaidID",
           "MedicareID", "InsertDate", "ModifiedDate"]
CLM_HDR = ["ClaimID", "TransactionID", "PatientID", "EncounterID",
           "ProviderID", "DeptID", "ServiceDate", "ClaimDate", "PayorID",
           "ClaimAmount", "PaidAmount", "ClaimStatus", "PayorType",
           "Deductible", "Coinsurance", "Copay", "InsertDate", "ModifiedDate"]
PROV_HDR = ["ProviderID", "FirstName", "LastName", "Specialization",
            "DeptID", "NPI"]
DEPT_HDR = ["DeptID", "Name"]
CPT_HDR = ["Procedure Code Category", "CPT Codes",
           "Procedure Code Descriptions", "Code Status"]
CONFIG_HDR = ["database", "datasource", "tablename", "loadtype", "watermark",
              "is_active", "targetpath"]

_FIRST = ["John", "Jane", "Ana", "Omar", "Li", "Sara", "Hans", "Mia", "Raj",
          "Eva", "Tom", "Ida", "Yusuf", "Lea", "Ben", "Zoe"]
_LAST = ["Doe", "Roe", "Smith", "Huber", "Muller", "Khan", "Chen", "Garcia",
         "Okafor", "Novak", "Rossi", "Silva"]
_DEPTS = ["Emergency", "Cardiology", "Oncology", "Radiology", "Neurology",
          "Pediatrics", "Surgery", "Orthopedics", "Urology", "Dermatology",
          "Psychiatry", "Nephrology"]
_PAYORS = {"Medicare": "Government", "Medicaid": "Government",
           "BlueCross": "Private", "Aetna": "Private",
           "UnitedHealthcare": "Private", "Cigna": "Private"}
_LOB = ["Commercial", "Self-Pay", "Medicare Advantage", "Medicaid"]
_ENC_TYPES = ["Inpatient", "Outpatient", "Emergency", "Telehealth"]
_VISIT = ["Routine", "Emergency", "Follow-up"]
_STATUS = ["Approved", "Pending", "Denied"]

# per-hospital volume at scale 1.0
_BASE = {"departments": 100, "providers": 300, "patients": 1000,
         "encounters": 3000, "transactions": 6000}
CHANGE_SHARE = 0.03   # clean keys given a tracked-column change in run 2
APPEND_SHARE = 0.02   # new keys appended in run 2


def _day(rng: random.Random, lo: datetime, hi: datetime) -> str:
    return (lo + timedelta(days=rng.randrange((hi - lo).days))).strftime(
        "%Y-%m-%d")


def _money(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randrange(lo * 100, hi * 100) / 100:.2f}"


_OLD = (datetime(2022, 1, 1), datetime(2024, 5, 30))   # before RUN1
_NEW = (datetime(2024, 6, 3), datetime(2025, 5, 30))   # between RUN1, RUN2


class MedallionSources:
    """Rows of every source table, generated from ``seed``.

    ``tables[ds][table]`` holds rows (lists of CSV cells, ``""`` = NULL) in
    source-column order; ``claims[tag]`` and ``cpt`` likewise. Every row of
    an entity table has a unique id except deliberate exact duplicates and
    NULL-key rows (which differ in other columns), so DISTINCT over the
    conformed rows equals DISTINCT over the raw rows.
    """

    def __init__(self, seed: int, scale: float = 1.0):
        self.rng = random.Random(seed)
        self.n = {k: max(4, int(v * scale)) for k, v in _BASE.items()}
        self.tables: dict[str, dict[str, list[list[str]]]] = {}
        self.claims: dict[str, list[list[str]]] = {}
        self.changed: dict[str, dict[str, set[str]]] = {}
        self.delta_applied = False
        self._cpt_codes = [str(99200 + i) for i in range(40)]
        self.cpt = [["Evaluation" if i % 2 else "Surgery", c,
                     f"Procedure {c}", "null" if i == 7 else "Active"]
                    for i, c in enumerate(self._cpt_codes)]
        for ds, _dir, tag, claim_tag in HOSPITALS:
            self._hospital(ds, tag, claim_tag)

    # -- run-1 rows ---------------------------------------------------------
    def _hospital(self, ds: str, tag: str, claim_tag: str) -> None:
        rng, n = self.rng, self.n
        # DeptIDs are shared across hospitals (same business key, two rows)
        depts = [[f"DEPT{i:03d}", rng.choice(_DEPTS)]
                 for i in range(1, n["departments"] + 1)]
        depts[-1][1] = ""                       # NULL Name -> quarantined
        dept_ids = [d[0] for d in depts]
        provs = []
        for i in range(n["providers"]):
            npi = str(rng.randrange(10**9, 10**10))
            provs.append([f"PROV{tag}{i:04d}", rng.choice(_FIRST),
                          rng.choice(_LAST), rng.choice(_DEPTS),
                          rng.choice(dept_ids), npi])
        provs[1][5] = "notanumber"              # SAFE_CAST NPI -> NULL
        provs[2][4] = ""                        # NULL DeptID -> quarantined
        prov_ids = [p[0] for p in provs]

        # patient ids overlap across hospitals on purpose (shared keys)
        start = 0 if tag == "A" else n["patients"] // 2
        pats = []
        for i in range(n["patients"]):
            pid = f"P{start + i:06d}"
            pats.append([pid, rng.choice(_FIRST), rng.choice(_LAST),
                         rng.choice("ABCDEFGH"),
                         f"{rng.randrange(100, 999)}-{i % 100:02d}-{i:04d}",
                         f"555-{rng.randrange(10000):04d}",
                         rng.choice(("Male", "Female")),
                         _day(rng, datetime(1940, 1, 1), datetime(2010, 1, 1)),
                         f"{rng.randrange(1, 999)} {rng.choice(_LAST)} St",
                         _day(rng, *_OLD)])
        pat_ids = [p[0] for p in pats]
        self._edge_rows(pats, sentinel_col=1, uniq_col=4)

        encs = []
        for i in range(n["encounters"]):
            d = _day(rng, *_OLD)
            encs.append([f"E{tag}{i:07d}", rng.choice(pat_ids), d,
                         rng.choice(_ENC_TYPES), rng.choice(prov_ids),
                         rng.choice(dept_ids), rng.choice(self._cpt_codes),
                         d, d])
        encs[3][6] = "badcode"                  # SAFE_CAST bigint -> NULL
        self._edge_rows(encs, sentinel_col=3, uniq_col=2, null_col=2)
        enc_rows = [e for e in encs if e[0]]

        trxs, claims = [], []
        for i in range(n["transactions"]):
            e = rng.choice(enc_rows)
            payor = rng.choice(list(_PAYORS))
            amt = _money(rng, 20, 2000)
            paid = f"{float(amt) * rng.choice((0.0, 0.5, 0.8, 1.0)):.2f}"
            tid, cid = f"T{tag}{i:07d}", f"C{tag}{i:07d}"
            trxs.append([tid, e[0], e[1], e[4], e[5], e[2], e[2],
                         "" if i % 9 == 0 else e[2], rng.choice(_VISIT), amt,
                         "Charge", paid, cid, payor, e[6],
                         f"I{rng.randrange(10, 99)}.{rng.randrange(10)}",
                         rng.choice(_LOB), f"MA{i}", f"MC{i}", e[2], e[2]])
            if rng.random() < 0.9:
                claims.append(self._claim(trxs[-1], rng))
        trxs[4][9] = "badnum"                   # SAFE_CAST double -> NULL
        self._edge_rows(trxs, sentinel_col=None, uniq_col=17, null_col=1)
        claims[0][11] = "null"                  # ClaimStatus sentinel
        claims[1][1] = ""                       # NULL TransactionID
        claims.append(list(claims[2]))          # exact duplicate claim
        self.tables[ds] = {"departments": depts, "providers": provs,
                           "patients": pats, "encounters": encs,
                           "transactions": trxs}
        self.claims[claim_tag] = claims

    @staticmethod
    def _claim(t: list[str], rng: random.Random) -> list[str]:
        payor = t[13]
        return [t[12], t[0], t[2], t[1], t[3], t[4], t[6], t[6], payor,
                t[9], t[11], rng.choice(_STATUS), _PAYORS[payor],
                str(rng.randrange(0, 50)), str(rng.randrange(0, 20)),
                str(rng.randrange(0, 30)), t[19], t[20]]

    def _edge_rows(self, rows, sentinel_col, uniq_col, null_col=None) -> None:
        """Inject NULL keys (column 0), sentinels, NULL required columns and
        exact duplicates into ``rows`` (about 1% of rows each, at least
        one); ``uniq_col`` keeps the NULL-key rows distinct."""
        rng = self.rng
        k = max(1, len(rows) // 100)
        picks = rng.sample(range(5, len(rows)), 3 * k)
        for i in picks[:k]:                      # NULL business key
            rows[i][0] = ""
            rows[i][uniq_col] = f"{rows[i][uniq_col]}#nk{i}"
        for i in picks[k:2 * k]:
            if sentinel_col is not None:
                rows[i][sentinel_col] = "null"   # LOWER(x)='null'
            elif null_col is not None:
                rows[i][null_col] = ""
        if null_col is not None and sentinel_col is not None:
            rows[picks[2 * k]][null_col] = ""
        for i in picks[2 * k:]:                  # exact duplicates
            rows.append(list(rows[i]))

    # -- run-2 delta ------------------------------------------------------------
    def apply_delta(self) -> None:
        """Change tracked columns on a few percent of clean keys (newer
        ModifiedDate) and append new rows, for both hospitals."""
        assert not self.delta_applied
        rng = self.rng
        for ds, _dir, tag, claim_tag in HOSPITALS:
            t = self.tables[ds]
            self.changed[ds] = {}
            for table, tracked_col, mod_col in (("patients", 8, 9),
                                                ("encounters", 3, 8),
                                                ("transactions", 9, 20)):
                rows = t[table]
                ids = Counter(r[0] for r in rows)
                clean = [r for r in rows if r[0] and ids[r[0]] == 1
                         and "null" not in r and "" not in r[:2]]
                k = max(1, int(len(clean) * CHANGE_SHARE))
                chosen = rng.sample(clean, k)
                for r in chosen:
                    if table == "patients":
                        r[tracked_col] = f"{rng.randrange(1000, 9999)} Moved Rd"
                    elif table == "encounters":
                        r[tracked_col] = "Readmission"
                    else:
                        r[tracked_col] = _money(rng, 20, 2000)
                    r[mod_col] = _day(rng, *_NEW)
                self.changed[ds][table] = {r[0] for r in chosen}
            # appended rows: new ids past every existing one
            n_new = {tb: max(1, int(len(t[tb]) * APPEND_SHARE))
                     for tb in INCREMENTAL}
            pats = t["patients"]
            base = max(int(r[0][1:]) for r in pats if r[0]) + 1
            for i in range(n_new["patients"]):
                d = _day(rng, *_NEW)
                pats.append([f"P{base + i:06d}", rng.choice(_FIRST),
                             rng.choice(_LAST), "N", f"900-00-{i:04d}{tag}",
                             "555-0000", "Female", "1999-09-09",
                             f"{i} New St", d])
            pat_ids = [r[0] for r in pats if r[0]]
            encs = t["encounters"]
            prov_ids = [p[0] for p in t["providers"]]
            dept_ids = [d[0] for d in t["departments"]]
            e0 = len(encs)
            for i in range(n_new["encounters"]):
                d = _day(rng, *_NEW)
                encs.append([f"E{tag}9{e0 + i:06d}", rng.choice(pat_ids), d,
                             rng.choice(_ENC_TYPES), rng.choice(prov_ids),
                             rng.choice(dept_ids),
                             rng.choice(self._cpt_codes), d, d])
            new_encs = encs[e0:]
            trxs = t["transactions"]
            t0 = len(trxs)
            for i in range(n_new["transactions"]):
                e = rng.choice(new_encs)
                payor = rng.choice(list(_PAYORS))
                amt = _money(rng, 20, 2000)
                tid, cid = f"T{tag}9{t0 + i:06d}", f"C{tag}9{t0 + i:06d}"
                trxs.append([tid, e[0], e[1], e[4], e[5], e[2], e[2], e[2],
                             rng.choice(_VISIT), amt, "Charge", amt, cid,
                             payor, e[6], "I11.1", rng.choice(_LOB),
                             f"MAN{i}", f"MCN{i}", e[2], e[2]])
                self.claims[claim_tag].append(self._claim(trxs[-1], rng))
        self.delta_applied = True

    # -- files ------------------------------------------------------------------
    def write(self, root: str) -> dict:
        """Write every source CSV under ``root``; returns the
        ``SourcePaths`` keyword arguments."""
        def w(path, header, rows):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(",".join(header) + "\n")
                f.writelines(",".join(r) + "\n" for r in rows)

        hdr = {"departments": DEPT_HDR, "providers": PROV_HDR,
               "encounters": ENC_HDR, "transactions": TRX_HDR}
        emr = {}
        for ds, d, _tag, claim_tag in HOSPITALS:
            emr[ds] = {}
            for table, rows in self.tables[ds].items():
                h = hdr.get(table) or (PAT_HDR_A if ds == "hospital_a_db"
                                       else PAT_HDR_B)
                path = os.path.join(root, "emr", d, f"{table}.csv")
                w(path, h, rows)
                emr[ds][table] = path
            w(os.path.join(root, "claims", f"{claim_tag}_claim_data.csv"),
              CLM_HDR, self.claims[claim_tag])
        w(os.path.join(root, "cptcodes", "cptcodes.csv"), CPT_HDR, self.cpt)
        config = []
        for ds, *_ in HOSPITALS:
            for t in INCREMENTAL:
                wm = ("Updated_Date" if (ds == "hospital_b_db"
                                         and t == "patients")
                      else "ModifiedDate")
                config.append(["devdb", ds, t, "Incremental", wm, "1",
                               f"landing/{ds}/{t}"])
            for t in FULL:
                config.append(["devdb", ds, t, "Full", "", "1",
                               f"landing/{ds}/{t}"])
        config.append(["devdb", "hospital_a_db", "ignored_table", "Full", "",
                       "0", "landing/x"])
        cfg = os.path.join(root, "configs", "load_config.csv")
        w(cfg, CONFIG_HDR, config)
        return {"emr": emr,
                "claims_glob": os.path.join(root, "claims", "*.csv"),
                "cptcodes": os.path.join(root, "cptcodes", "cptcodes.csv"),
                "load_config": cfg}

    def source_rows(self) -> int:
        """Data rows across every source CSV (headers excluded)."""
        return (sum(len(r) for t in self.tables.values() for r in t.values())
                + sum(len(c) for c in self.claims.values()) + len(self.cpt)
                + 2 * len(FULL + INCREMENTAL) + 1)

    # -- truth ------------------------------------------------------------------
    def expected(self) -> dict:
        """What the warehouse must hold after the latest run (run 2 once
        ``apply_delta`` ran, else run 1)."""
        run2 = self.delta_applied
        wm = RUN1.strftime("%Y-%m-%d")
        landed, scd2 = {}, {}
        silver: dict[str, list[tuple[str, list[str]]]] = defaultdict(list)
        for ds, *_ in HOSPITALS:
            for table, rows in self.tables[ds].items():
                if table in INCREMENTAL and run2:
                    landed[(ds, table)] = sum(r[-1] > wm for r in rows)
                else:
                    landed[(ds, table)] = len(rows)
                distinct = _distinct(rows)
                if table in INCREMENTAL:
                    # a changed key keeps exactly its expired run-1 row
                    changed = self.changed.get(ds, {}).get(table, set())
                    acc = scd2.setdefault(table, [0, 0, set()])
                    acc[0] += len(distinct)
                    acc[1] += len(changed)
                    acc[2] |= {f"{k}-{ds}" for k in changed}
                    silver[table] += [(ds, r) for r in distinct
                                      if r[0] not in changed]
                    silver[f"{table}_all"] += [(ds, r) for r in distinct]
                else:
                    silver[table] += [(ds, r) for r in distinct]
        claims = []
        for _ds, _d, _t, tag in HOSPITALS:
            claims += [(tag, r) for r in _distinct(self.claims[tag])]
        return {"landed": landed,
                "scd2": {t: {"rows": v[0], "closed": v[1], "changed": v[2]}
                         for t, v in scd2.items()},
                "gold": _gold_counts(silver, claims)}


def _distinct(rows: list[list[str]]) -> list[list[str]]:
    seen, out = set(), []
    for r in rows:
        k = tuple(r)
        if k not in seen:
            seen.add(k)
            out.append(r)
    return out


def _gold_counts(silver, claims) -> dict[str, int]:
    """Row count of each gold mart, from the silver row model.

    ``silver[<entity>]`` holds the rows that stay current (patients) or are
    present at all (every other entity); ``<entity>_all`` adds the expired
    versions, which the gold joins read too (only patients filter on
    ``is_current``)."""
    encs = [r for _ds, r in silver["encounters_all"]]
    trxs = silver["transactions_all"]
    provs = [r for _ds, r in silver["providers"]]
    depts = silver["departments"]
    dept_names = defaultdict(list)
    for _ds, d in depts:
        if d[0]:
            dept_names[d[0]].append(d[1])
    provs_by_id = defaultdict(list)
    for p in provs:
        if p[0]:
            provs_by_id[p[0]].append(p)
    clean_trx = [r for _ds, r in trxs
                 if r[0] and r[1] and r[2] and r[5]]
    pcs = set()
    for t in clean_trx:
        for p in provs_by_id.get(t[3], ()):
            for name in dept_names.get(p[4], ()) if p[4] else ():
                if name:
                    pcs.add((f"{p[1]} {p[2]}", name))
    n_claims = Counter(c[1] for _tag, c in claims if c[1])
    n_enc = Counter(e[1] for e in encs if e[1])
    trx_fan = defaultdict(int)
    for _ds, t in trxs:
        if t[2]:
            trx_fan[t[2]] += max(1, n_claims.get(t[0], 0)) if t[0] else 1
    history = 0
    for _ds, p in silver["patients"]:
        pid = p[0]
        history += (max(1, n_enc.get(pid, 0)) * max(1, trx_fan.get(pid, 0))
                    if pid else 1)
    clean_claims = [c for _tag, c in claims
                    if c[0] and c[1] and c[2] and c[11].lower() != "null"]
    return {
        "provider_charge_summary": len(pcs),
        "patient_history": history,
        "provider_performance": len({tuple(p[:4]) for p in provs}),
        "department_performance": len({(d[0], ds, d[1]) for ds, d in depts
                                       if d[0] and d[1]}),
        "financial_metrics": len({(t[16], t[13]) for t in clean_trx}),
        "payor_performance": len({(c[8], c[12]) for c in clean_claims}),
    }
