"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed`` and a size:

* ``write_tables`` writes the ten catalog tables (``TABLES`` in
  ``qaapi_spark.sources.tables``) as single parquet files, with the
  column names, types and value domains of the TPC-H-ish test tables
  the catalog queries are written against.
* ``CalabrioCorpus`` builds a Calabrio-shaped landing corpus (forms,
  contacts, evaluations, comments, transcripts) as one initial load and
  a run of overlapping trailing-window re-extracts.  Between re-extracts
  the upstream state evolves, which plants every reconciliation case the
  pipeline handles: duplicate documents, non-SCORED states, null
  evaluators, evaluations that vanish upstream, re-scored evaluations,
  deleted and edited comments, edited contacts (insert-only keeps the
  first version) and new contacts.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
# 2024-01-01T00:00:00Z: the landing corpus starts here
BASE_MS = 1_704_067_200_000

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


# --------------------------------------------------------------------------
# catalog tables


def _ts_us(days_from: str, n: int, rng: np.random.Generator, span_days: int) -> pa.Array:
    base = np.datetime64(days_from, "D")
    d = base + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def table_sizes(sf: float, n_docs: int) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": n_docs,
        "embeddings": n_docs,
    }


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, int]:
    """Write the catalog tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    n = table_sizes(sf, n_docs)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    npart = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pa.array(rng.choice(
            ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _ts_us("1995-01-01", no, rng, 2404),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts_us("1995-01-02", nl, rng, 2498),
    })
    ne = n["events"]
    # increasing timestamps over 30 days, microsecond resolution
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), ne), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], ne)),
        "value": pa.array(np.round(rng.exponential(20.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = prng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[prng.randrange(i)] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[prng.randrange(i)])
        else:
            texts.append(_text(prng, 10, 100))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.35 + rng.normal(0.0, 1.0, (nv, 64))
    dup = rng.random(nv) < 0.05
    src = rng.integers(0, nv, nv)
    vecs[dup] = vecs[src[dup]] + rng.normal(0.0, 0.05, (int(dup.sum()), 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


# --------------------------------------------------------------------------
# Calabrio landing corpus


# landing corpus size and extraction: ~960 contacts, re-extracted as
# 16-day trailing windows in 2-day chunk files
CONTACTS_PER_DAY = 30
INITIAL_DAYS = 32
WINDOW_DAYS = 16
STEP_DAYS = 2
N_FORMS = 6


@dataclass
class _Eval:
    doc: dict
    comments: dict[int, dict] = field(default_factory=dict)  # comment id -> doc


class CalabrioCorpus:
    """Upstream state of a Calabrio tenant, extracted in windows.

    Contacts arrive at ``CONTACTS_PER_DAY`` a day from ``BASE_MS`` on.
    ``initial_landing`` extracts the first ``INITIAL_DAYS`` days in one
    load; each ``next_window`` call advances "today" by ``STEP_DAYS``,
    mutates the upstream records the window covers, and extracts the
    trailing ``WINDOW_DAYS`` days in ``STEP_DAYS``-day chunk files, as
    the reference's 16-day/2-day extraction does.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.today = INITIAL_DAYS
        self.forms = self._make_forms()
        self.contacts: dict[int, dict] = {}
        self.evals: dict[int, _Eval] = {}  # eval id -> record
        self.by_contact: dict[int, list[int]] = {}
        self._next_contact = 1
        self._next_comment = 1
        self.batches = 0
        for day in range(INITIAL_DAYS):
            self._arrive(day)

    # -- generation -------------------------------------------------------
    def _make_forms(self) -> list[dict]:
        r = self.rng
        forms = []
        for f in range(1, N_FORMS + 1):
            sections = []
            for s in range(r.randint(2, 4)):
                sid = f * 100 + s
                questions = []
                for q in range(r.randint(2, 4)):
                    qid = sid * 10 + q
                    questions.append({
                        "id": qid,
                        "text": f"Question {q} of section {s}?",
                        "weight": float(r.randint(1, 3)),
                        "options": [
                            {"id": qid * 10, "label": "Y", "points": r.choice([3, 5, 10]),
                             "type": "ADDITIVE"},
                            {"id": qid * 10 + 1, "label": "N", "points": 0, "type": "ADDITIVE"},
                            {"id": qid * 10 + 2, "label": "N/A", "points": 0,
                             "type": "N/A APPLICABLE"},
                        ],
                    })
                sections.append({"id": sid, "name": f"Section {s}",
                                 "weight": round(r.choice([0.2, 0.3, 0.5]), 1),
                                 "questions": questions})
            forms.append({"id": f, "name": f"Eval Form {f}", "sections": sections})
        return forms

    def _arrive(self, day: int) -> None:
        """Contacts of one day, with their evaluations and comments."""
        r = self.rng
        for _ in range(CONTACTS_PER_DAY):
            cid = self._next_contact
            self._next_contact += 1
            start = BASE_MS + day * DAY_MS + r.randrange(DAY_MS)
            self.contacts[cid] = {"id": cid, "startTime": start,
                                  "assocCallId": f"CALL-{cid:07d}"}
            n_evals = r.choices([0, 1, 2, 3], [0.25, 0.2, 0.33, 0.22])[0]
            self.by_contact[cid] = []
            for j in range(n_evals):
                self._new_eval(cid, cid * 4 + j, start)

    def _new_eval(self, cid: int, eid: int, start: int) -> None:
        r = self.rng
        form = r.choice(self.forms)
        state = r.choices(["SCORED", "IN_PROGRESS", "PENDING"], [0.9, 0.06, 0.04])[0]
        doc = {
            "id": eid,
            "qualityRef": f"/api/rest/recording/contact/{cid}",
            "evalForm": {"evalFormId": form["id"]},
            "agent": {"id": 200 + r.randrange(60)},
            # null evaluator: a data-quality case the probe query counts
            "evaluator": {"id": None if r.random() < 0.03 else 300 + r.randrange(40)},
            "isScoreCounted": r.random() < 0.9,
            "evaluated": start + r.randrange(1, 72) * 3_600_000,
            "responseState": {"text": r.choice(["AGREED", "DISAGREED", "NONE"])},
            "state": {"text": state},
            "additiveScore": r.randrange(0, 101),
            "totalScore": round(r.uniform(0, 100), 2),
            "sections": [
                {"id": s["id"], "questions": [
                    {"id": q["id"], "selectedOption": r.choice(q["options"])["id"]}
                    for q in s["questions"]]}
                for s in form["sections"]
            ],
            "comments": f"/api/rest/recording/contact/{cid}/eval/{eid}/comment/",
        }
        rec = _Eval(doc)
        for _ in range(r.randint(2, 9)):
            self._new_comment(rec, form)
        self.evals[eid] = rec
        self.by_contact[cid].append(eid)

    def _new_comment(self, rec: _Eval, form: dict | None = None) -> None:
        r = self.rng
        if form is None:
            form = next(f for f in self.forms if f["id"] == rec.doc["evalForm"]["evalFormId"])
        sec = r.choice(form["sections"])
        q = r.choice(sec["questions"])
        cid = int(rec.doc["qualityRef"].rsplit("/", 1)[1])
        mid = self._next_comment
        self._next_comment += 1
        created = rec.doc["evaluated"] + r.randrange(1, 3_600_000)
        text = r.choice(["...", "--", "!!"]) if r.random() < 0.04 else _text(r, 3, 12)
        history = []
        if r.random() < 0.25:  # edited before extraction: keep-latest history
            for h in range(r.randint(1, 3)):
                history.append({"created": created + (h + 1) * 60_000,
                                "commentor": {"$ref": f"/api/rest/recording/person/{500 + r.randrange(50)}"}})
        rec.comments[mid] = {
            "$ref": f"/api/rest/recording/contact/{cid}/eval/{rec.doc['id']}/comment/{mid}",
            "sectionFK": sec["id"],
            "questionFK": None if r.random() < 0.1 else q["id"],
            "created": created,
            "commentor": {"$ref": f"/api/rest/recording/person/{500 + r.randrange(50)}"},
            "text": text,
            "history": history,
        }

    def _mutate(self, contact_ids: list[int]) -> None:
        """Upstream edits to records the next window will cover."""
        r = self.rng
        for cid in contact_ids:
            if r.random() < 0.01:  # insert-only merge must ignore this edit
                c = self.contacts[cid]
                self.contacts[cid] = dict(c, startTime=c["startTime"] + 60_000)
            for eid in list(self.by_contact[cid]):
                rec = self.evals[eid]
                x = r.random()
                if x < 0.02:  # deleted upstream: the J5 victim
                    self.by_contact[cid].remove(eid)
                    del self.evals[eid]
                    continue
                if x < 0.06:  # re-scored: matched update keeps evaluated_date
                    rec.doc = dict(rec.doc, totalScore=round(r.uniform(0, 100), 2),
                                   additiveScore=r.randrange(0, 101),
                                   evaluated=rec.doc["evaluated"] + DAY_MS)
                elif x < 0.08:  # state flip SCORED <-> IN_PROGRESS
                    flip = "IN_PROGRESS" if rec.doc["state"]["text"] == "SCORED" else "SCORED"
                    rec.doc = dict(rec.doc, state={"text": flip})
                y = r.random()
                if y < 0.03 and rec.comments:  # comment deleted upstream
                    del rec.comments[r.choice(list(rec.comments))]
                elif y < 0.06 and rec.comments:  # comment text edited
                    k = r.choice(list(rec.comments))
                    rec.comments[k] = dict(rec.comments[k], text=rec.comments[k]["text"] + " edited")
                elif y < 0.08:
                    self._new_comment(rec)
            if r.random() < 0.02:  # late evaluation of an older contact
                eid = cid * 4 + 3
                if eid not in self.evals:
                    self._new_eval(cid, eid, self.contacts[cid]["startTime"])

    # -- extraction -------------------------------------------------------
    def _contacts_in(self, day_lo: int, day_hi: int) -> list[int]:
        lo = BASE_MS + day_lo * DAY_MS
        hi = BASE_MS + day_hi * DAY_MS
        # contact ids increase with arrival day, and edits move a start
        # time by a minute at most, so the window is an id range
        first = max(1, day_lo * CONTACTS_PER_DAY + 1 - CONTACTS_PER_DAY)
        last = min(self._next_contact, day_hi * CONTACTS_PER_DAY + 1 + CONTACTS_PER_DAY)
        return [c for c in range(first, last) if lo <= self.contacts[c]["startTime"] < hi]

    def _land(self, out_dir: str, day_lo: int, day_hi: int, chunk_days: int) -> int:
        """Write one extraction of [day_lo, day_hi); returns landed bytes."""
        r = self.rng
        os.makedirs(out_dir, exist_ok=True)
        files: dict[str, list] = {"forms.json": self.forms}
        evals: list[dict] = []
        comments: list[dict] = []
        qa_contacts: list[dict] = []
        prev_last = None
        for i, lo in enumerate(range(day_lo, day_hi, chunk_days)):
            hi = min(day_hi, lo + chunk_days)
            # chunk boundaries overlap by one contact: duplicate documents
            ids = self._contacts_in(lo, hi)
            if prev_last is not None:
                ids = [prev_last] + ids
            prev_last = ids[-1] if ids else None
            files[f"all_contacts_{i + 1}.json"] = [self.contacts[c] for c in ids]
        for cid in self._contacts_in(day_lo, day_hi):
            if self.by_contact[cid]:
                qa_contacts.append(self.contacts[cid])
            for eid in self.by_contact[cid]:
                rec = self.evals[eid]
                evals.append(rec.doc)
                if r.random() < 0.01:  # the same document on two pages
                    evals.append(rec.doc)
                comments.extend(rec.comments.values())
        files["contacts_1.json"] = qa_contacts
        files["fix_eval_raw.json"] = evals
        files["fix_comments_raw.json"] = comments
        files["fix_transcript_raw.json"] = [
            {"ccrid": c["id"], "segments": [] if c["id"] % 7 == 0 else [
                {"start_ms": k * 4000, "end_ms": k * 4000 + 3500,
                 "speaker": "agent" if k % 2 == 0 else "customer",
                 "text": _text(r, 3, 9)} for k in range(1 + c["id"] % 4)]}
            for c in qa_contacts[:200]
        ]
        landed = 0
        for name, docs in files.items():
            data = json.dumps(docs, separators=(",", ":")).encode()
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(data)
            if name != "fix_transcript_raw.json":  # the pipeline does not read transcripts
                landed += len(data)
        return landed

    def initial_landing(self, out_dir: str) -> int:
        return self._land(out_dir, 0, self.today, WINDOW_DAYS)

    def next_window(self, out_dir: str) -> int:
        """Advance one step, then land the trailing window."""
        self.batches += 1
        lo = self.today - WINDOW_DAYS + STEP_DAYS
        self._mutate(self._contacts_in(max(0, lo), self.today))
        for day in range(self.today, self.today + STEP_DAYS):
            self._arrive(day)
        self.today += STEP_DAYS
        return self._land(out_dir, self.today - WINDOW_DAYS, self.today, STEP_DAYS)

    def sizes(self) -> dict[str, int]:
        return {
            "contacts": len(self.contacts),
            "evaluations": len(self.evals),
            "comments": sum(len(e.comments) for e in self.evals.values()),
        }
