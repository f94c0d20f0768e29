"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (numpy PCG64 streams, pyarrow Parquet writes without
pandas metadata, CSV text built in a fixed order).

  tables(out, seed, ...)        the TPC-H-like star schema plus events,
                                documents and embeddings, with the schemas
                                and value domains of the library's fixtures
  curation(out, seed)           `tables` with a larger documents/embeddings
                                corpus carrying a seeded near-duplicate share
  claims(out, seed)             MercuryGate claims CSVs (the claim table and
                                the child tables the gold marts read, by
                                default): a full load (batch1/) and a refresh
                                with updated and new claim numbers (batch2/),
                                plus the values a correct pipeline must produce
  event_batches(out, seed)      events in event-time order split into
                                micro-batch files, with in-batch duplicates

Run `python3 perfbench/gen.py <kind> <out> <seed>` to write one input set
(kinds: curation, claims, events).
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def _rng(seed, stream):
    """Independent generator per (seed, stream) so adding one table never
    shifts the values of another."""
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _write(table, path):
    # fixed writer settings: one row group, snappy, no pandas metadata
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(days_from, us):
    base = np.datetime64(days_from, "us")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _words(r, n_docs, lo, hi):
    lens = r.integers(lo, hi, n_docs)
    idx = r.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(VOCAB[i] for i in idx[pos:pos + n]))
        pos += n
    return out


def _documents(r, n):
    text = _words(r, n, 10, 101)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _doc_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def _unit_vectors(r, n, dim=64):
    v = r.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _emb_table(vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def events_table(r, n, users, days=30):
    us = np.sort(r.integers(0, days * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", us),
        "user_id": pa.array(r.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(_money(r, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def tables(out, seed, customers=300, suppliers=20, parts=400, orders=3000,
           lineitems=12000, events=2000, docs=500, vecs=500):
    """Star schema + events/documents/embeddings; returns row counts."""
    os.makedirs(out, exist_ok=True)
    counts = {}

    def put(name, t):
        _write(t, os.path.join(out, f"{name}.parquet"))
        counts[name] = t.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    r = _rng(seed, 1)
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(r.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, customers)),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, customers)]}))
    r = _rng(seed, 2)
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(r.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, suppliers))}))
    r = _rng(seed, 3)
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(r.integers(0, 8, parts), r.integers(0, 8, parts))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, parts)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, parts)],
        "p_size": pa.array(r.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(parts) % 1000) / 10, 2))}))
    r = _rng(seed, 4)
    odate = r.integers(0, 2404, orders) * US_PER_DAY  # 1995-01-01 .. 2001-08
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        # every customer orders at least once, as in the fixtures
        "o_custkey": pa.array(np.where(np.arange(orders) < customers,
                                       np.arange(orders),
                                       r.integers(0, customers, orders)).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, orders)],
        "o_totalprice": pa.array(_money(r, 1000, 500000, orders)),
        "o_orderdate": _ts("1995-01-01", odate),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, orders)]}))
    r = _rng(seed, 5)
    okey = r.integers(0, orders, lineitems)
    qty = r.integers(1, 51, lineitems).astype(np.float64)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, parts, lineitems).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, suppliers, lineitems).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, lineitems).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(18, 2100, lineitems), 2)),
        "l_discount": pa.array(r.integers(0, 11, lineitems) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, lineitems) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, lineitems)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, lineitems)],
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2498, lineitems) * US_PER_DAY)}))
    put("events", events_table(_rng(seed, 6), events, max(15, events // 67)))
    put("documents", _doc_table(_documents(_rng(seed, 7), docs)))
    r = _rng(seed, 8)
    put("embeddings", _emb_table(_unit_vectors(r, vecs), r.integers(0, 10, vecs)))
    return counts


def _shingles(text, k=3):
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}


def curation(out, seed, base_docs=300, dup_share=0.2):
    """`tables` with a documents/embeddings corpus in which `dup_share` of
    the rows are near-duplicates of earlier rows (a few word edits, a small
    embedding perturbation). Returns row counts and the measured share of
    near-duplicate documents (3-shingle Jaccard >= 0.5 with their source)."""
    n = base_docs
    counts = tables(out, seed, docs=n, vecs=n)
    r = _rng(seed, 20)
    docs = _documents(r, n)
    n_dup = int(round(n * dup_share))
    dup_rows = np.sort(r.choice(np.arange(n // 4, n), n_dup, replace=False))
    sources = r.integers(0, n // 4, n_dup)
    near = 0
    for row, src in zip(dup_rows, sources):
        words = docs["text"][src].split()
        for _ in range(max(1, len(words) // 12)):
            words[r.integers(0, len(words))] = VOCAB[r.integers(0, len(VOCAB))]
        docs["text"][row] = " ".join(words)
        a, b = _shingles(docs["text"][row]), _shingles(docs["text"][src])
        near += len(a & b) / len(a | b) >= 0.5
    _write(_doc_table(docs), os.path.join(out, "documents.parquet"))
    vecs = _unit_vectors(r, n)
    vecs[dup_rows] = vecs[sources] + 0.05 * r.standard_normal((n_dup, vecs.shape[1]))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(_emb_table(vecs, r.integers(0, 10, n)), os.path.join(out, "embeddings.parquet"))
    counts.update(documents=n, embeddings=n)
    return {"rows": counts, "near_dup_share": round(near / n, 6),
            "near_dup_rows": n_dup}


# --- claims (FIXTURES.md §B; source headers are the RenameMaps keys) ---

CLAIM_COLS = (
    "claimid accountid claimnumber claimtype statuscodeid statuscode reasoncodeid "
    "reason claimrep company companycode claimant claimantcode claimantline1 "
    "claimantline2 claimantline3 contact claimantcontactphone shipper shippercode "
    "shipperline1 shipperline2 shipperline3 deliverydate shipmentdate "
    "billladingcarrier deliverycarrier carrierclaimnumber carrierbol carrierscac "
    "carrier carriercode carrierline1 carrierline2 carrierline3 customer "
    "customercode customerline1 customerline2 customerline3 originterminal "
    "originliabilitypct destinationterminal destinationliabilitypct "
    "legalliabilityreserves transmittalamount deniedamount freightamount "
    "addlchargesamount totalamount paymentamount outstandingamount updatedate "
    "datecreated datefiled datemailed dateacknowledged dateclosed datepaid "
    "datereopened osdsubmitdate datereimburse comments transportationmode "
    "vehiclenumber inoutbound datecancelled cancelreason daterejected "
    "rejectedreason datedenied denialreason dateapproval approvalreason "
    "claimgroup").split()
CHILD_COLS = {
    "claimactivity": "rowid claimnumber display dateof accountid datecreated",
    "claimadditionalcharge": "rowid claimnumber chargetype description amount accountid datecreated",
    "claimadditionalinfo": "rowid claimnumber customfield value accountid datecreated",
    "claimdiary": "rowid claimnumber dateof lastupdatedname category comments accountid",
    "claimdocument": "rowid claimnumber display value dateof accountid datecreated",
    "claimpayment": ("rowid claimnumber payee payeecode payeeline1 payeeline2 payeeline3 "
                     "paymenttype paymentamount paymentdate comments requestedby requestdate "
                     "approvedby approvaldate checknumber checkdate transtype transnumber "
                     "transdate accountid datecreated"),
    "claimproduct": ("rowid claimnumber itemnumber description NMFC quantity unitcost weight "
                     "linetotal accountid datecreated"),
}
STATUSES = ["APPROVED", "CLOSED", "DENIED", "FILED", "OPEN", "PAID"]


def column_kind(name):
    """Value domain of a claims source column: id, amount, date, ts or text.
    The benchmark's CSV schema is derived from the same rule."""
    n = name.lower()
    if n == "deliverydate":
        return "ts"
    if n.startswith("date") or n.endswith("date") or n == "dateof":
        return "date"
    if n.endswith("amount") or n.endswith("pct") or n in (
            "legalliabilityreserves", "unitcost", "linetotal", "weight", "quantity"):
        return "amount"
    if n in ("claimid", "accountid", "rowid", "statuscodeid", "reasoncodeid"):
        return "id"
    return "text"


def _column(r, name, n, keys, day0):
    kind = column_kind(name)
    if name == "claimnumber":
        return [f"CN{k:08d}" for k in keys]
    if kind == "ts":
        s = r.integers(0, 86400, n)
        days = day0 + r.integers(0, 30, n)
        return [(dt.date(2022, 1, 1) + dt.timedelta(days=int(d))).isoformat()
                + f" {x // 3600:02d}:{x // 60 % 60:02d}:{x % 60:02d}" for d, x in zip(days, s)]
    if kind == "date":
        return [(dt.date(2022, 1, 1) + dt.timedelta(days=int(d))).isoformat()
                for d in day0 + r.integers(0, 30, n)]
    if kind == "amount":
        return [f"{c / 100:.2f}" for c in r.integers(0, 5_000_000, n)]
    if kind == "id":
        return [str(v) for v in r.integers(1, 1_000_000, n)]
    if name == "statuscode":
        return [STATUSES[i] for i in r.integers(0, len(STATUSES), n)]
    return [f"{name[:6]}-{v}" for v in r.integers(0, 500, n)]


def _csv(path, header, cols):
    lines = [",".join(header)]
    lines.extend(",".join(row) for row in zip(*cols))
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


ETL_CHILDREN = ("claimpayment", "claimproduct")
# Silver names (RenameMaps) of the child columns the claims mart sums,
# and of every column that can break a tie between two rows of one claim
# in one batch: dedupByPk orders those by name, each descending.
SILVER_NAMES = {
    "claimpayment": dict(
        rowid="row_id", payee="payee", payeecode="payee_code", payeeline1="payee_line1",
        payeeline2="payee_line2", payeeline3="payee_line3", paymenttype="payment_type",
        paymentamount="payment_amount", paymentdate="payment_date", comments="comments",
        requestedby="requested_by", requestdate="request_date", approvedby="approved_by",
        approvaldate="approval_date", checknumber="check_number", checkdate="check_date",
        transtype="trans_type", transnumber="trans_number", transdate="trans_date",
        accountid="account_id", datecreated="date_created"),
    "claimproduct": dict(
        rowid="row_id", itemnumber="item_number", description="description", NMFC="NMFC",
        quantity="quantity", unitcost="unit_cost", weight="weight", linetotal="line_total",
        accountid="account_id", datecreated="date_created"),
}
MART_SUMS = {"claimpayment": ("paymentamount", "total_paid_cents"),
             "claimproduct": ("linetotal", "total_line_value_cents")}


def _typed(name, v):
    return {"id": int, "amount": float}.get(column_kind(name), str)(v)


def _survivors(fname, header, cols):
    """The row dedupByPk keeps per claim number within one batch, as
    {claim number: {source column: value}}."""
    names = SILVER_NAMES[fname]
    order = sorted(names, key=names.get)
    by = dict(zip(header, cols))
    best = {}
    for i, k in enumerate(by["claimnumber"]):
        key = tuple(_typed(c, by[c][i]) for c in order)
        if k not in best or key > best[k][0]:
            best[k] = (key, {c: by[c][i] for c in header})
    return {k: row for k, (_, row) in best.items()}


def claims(out, seed, n_claims=1500, update_share=0.2, new_share=0.1, child_rate=1.5,
           children=ETL_CHILDREN):
    """Write batch1/ (full load) and batch2/ (refresh) CSVs and return the
    expected pipeline results: distinct claim numbers per table and batch,
    the key-union size after upsert, gold monthly claim_value totals in
    cents keyed "<yyyy-mm-01>|<status>", and the claims mart's row count,
    child row counts and payment / line-value totals in cents."""
    r = _rng(seed, 30)
    b1 = np.arange(n_claims)
    upd = np.sort(r.choice(b1, int(n_claims * update_share), replace=False))
    new = np.arange(n_claims, n_claims + int(n_claims * new_share))
    b2 = np.concatenate([upd, new])
    exp = {"batches": {}, "union": {}, "bytes": {}}
    keysets = {}
    final_claim = {}
    final_child = {f: {} for f in MART_SUMS if f in children}
    for bi, (keys, day0) in enumerate([(b1, 0), (b2, 60)], start=1):
        d = os.path.join(out, f"batch{bi}")
        os.makedirs(d, exist_ok=True)
        rb = _rng(seed, 31 + bi)
        cols = [_column(rb, c, len(keys), keys, day0) for c in CLAIM_COLS]
        exp["bytes"][f"batch{bi}/claim.txt"] = _csv(os.path.join(d, "claim.txt"), CLAIM_COLS, cols)
        by = dict(zip(CLAIM_COLS, cols))
        for i, k in enumerate(keys):
            final_claim[int(k)] = (by["datecreated"][i][:7] + "-01", by["statuscode"][i],
                                   int(round(float(by["totalamount"][i]) * 100)))
        keysets.setdefault("claim", set()).update(keys.tolist())
        counts = {"claim": len(keys)}
        for ci, (fname, header) in enumerate(CHILD_COLS.items()):
            if fname not in children:
                continue
            rc = _rng(seed, 100 + 10 * bi + ci)
            ck = np.repeat(keys, rc.poisson(child_rate, len(keys)))
            h = header.split()
            vals = [_column(rc, c, len(ck), ck, day0) for c in h]
            exp["bytes"][f"batch{bi}/{fname}.txt"] = _csv(os.path.join(d, f"{fname}.txt"), h, vals)
            if fname in final_child:  # a refresh row replaces the full-load row
                final_child[fname].update(_survivors(fname, h, vals))
            counts[fname] = int(len(np.unique(ck)))
            keysets.setdefault(fname, set()).update(ck.tolist())
        exp["batches"][f"batch{bi}"] = counts
    exp["union"] = {t: len(ks) for t, ks in keysets.items()}
    gold = {}
    for month, status, cents in final_claim.values():
        key = f"{month}|{status}"
        gold[key] = gold.get(key, 0) + cents
    exp["gold_cents"] = gold
    mart = {"rows": len(final_claim)}
    for fname, rows in final_child.items():
        col, key = MART_SUMS[fname]
        mart[f"{fname}_rows"] = len(rows)
        mart[key] = sum(int(round(float(r[col]) * 100)) for r in rows.values())
    exp["claims_mart"] = mart
    exp["csv_bytes"] = sum(exp["bytes"].values())
    exp["rows"] = {f"batch{bi}": n for bi, n in
                   ((1, _lines(out, "batch1")), (2, _lines(out, "batch2")))}
    return exp


def _lines(out, batch):
    total = 0
    d = os.path.join(out, batch)
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            total += fh.read().count(b"\n") - 1
    return total


def event_batches(out, seed, n_events=12000, users=400, n_files=4, dup_share=0.02,
                  days=4):
    """Events in event-time order split into `n_files` micro-batch files;
    `dup_share` of the rows are exact duplicates placed in the same file as
    their original. Also writes all.parquet (every row, for the oracle).
    Returns counts and the distinct event count a correct dedup emits."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 40)
    t = events_table(r, n_events, users, days=days)
    n_dup = int(n_events * dup_share)
    dup_idx = np.sort(r.choice(n_events, n_dup, replace=False))
    order = np.sort(np.concatenate([np.arange(n_events), dup_idx]), kind="stable")
    t = t.take(pa.array(order))
    _write(t, os.path.join(out, "all.parquet"))
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    # never split an original from its duplicate
    ids = t.column("event_id").to_numpy()
    for i in range(1, n_files):
        while 0 < bounds[i] < t.num_rows and ids[bounds[i]] == ids[bounds[i] - 1]:
            bounds[i] += 1
    files = []
    for i in range(n_files):
        name = f"batch_{i:04d}.parquet"
        _write(t.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(out, name))
        files.append(name)
    return {"rows": int(t.num_rows), "distinct_events": n_events, "duplicates": n_dup,
            "files": files}


KINDS = {"curation": curation, "claims": claims, "events": event_batches}


def generate(kind, out, seed):
    info = KINDS[kind](out, seed)
    size = 0
    for root, _, fs in os.walk(out):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
    return {"kind": kind, "seed": seed, "input_bytes": size, "info": info}


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    print(json.dumps(generate(kind, out, seed), sort_keys=True))
