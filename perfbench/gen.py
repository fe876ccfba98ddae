"""Seeded input generators for the benchmark workloads.

Each generator writes a workload's inputs under a work directory and
returns the values the benchmark checks the program's output against.
Those expected values are computed here from the generator's own
parameters, never by graft.
"""
import csv
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizing (measured on 4 cores; see perfbench/README.md) -----------------
ROUNDTRIP_ACCOUNTS = 3_000
CONTACTS_PER_ACCOUNT = 2
FANOUT = 16                   # ParentId = heap parent, so depth ≈ log_16(N)
BROKEN_LINK_EVERY = 7         # each ParentId link is null with p = 1/7
QUERY_MIX_SF = 0.01           # TPC-H-shaped tables at this scale factor

DESCRIBES = {
    "Account": [("Id", "id", []), ("Name", "string", []),
                ("ParentId", "reference", ["Account"])],
    "Contact": [("Id", "id", []), ("LastName", "string", []),
                ("AccountId", "reference", ["Account"]),
                ("ReportsToId", "reference", ["Contact"])],
}
PREFIX = {"Account": "001", "Contact": "003"}


def multiset_hash(items):
    """Sum of each item's first 8 md5 bytes mod 2^64 (the harness's hash)."""
    acc = 0
    for s in items:
        acc += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return str(acc % (1 << 64))


def sf_id(table, seed, n):
    return f"{PREFIX[table]}{seed % 1000:03d}{n:09d}AAA"


def _write_describes(work):
    d = os.path.join(work, "describes")
    os.makedirs(d, exist_ok=True)
    for name, fields in DESCRIBES.items():
        doc = {"name": name, "keyPrefix": PREFIX[name], "fields": [
            {"name": f, "type": t, "soapType": "tns:ID" if t != "string" else "xsd:string",
             "referenceTo": ref, "createable": t != "id", "updateable": t != "id"}
            for f, t, ref in fields]}
        with open(os.path.join(d, f"{name}.json"), "w") as fh:
            json.dump(doc, fh)


def _network(seed, accounts, fanout, contacts_per_account):
    """Account forest (heap-shaped ParentId with random breaks) and contacts
    whose ReportsToId stays inside their account, so every reference
    resolves. Positions are shuffled so ids and depth are unrelated.

    Exactly one account is named `Seed ...`: a leaf on the deepest level of
    the root's tree. Reaching the whole tree from it takes the same number
    of fixpoint passes (up to the root, then down to the farthest leaf) for
    every seed, so the op does the same number of Spark jobs whatever the
    seed.
    """
    rng = random.Random(seed)
    perm = list(range(accounts))
    rng.shuffle(perm)  # heap position → account number
    parent_pos = [None] * accounts
    depth = [0] * accounts
    rooted = [True] * accounts  # no broken link between this position and 0
    for pos in range(1, accounts):
        up = (pos - 1) // fanout
        depth[pos] = depth[up] + 1
        if rng.randrange(BROKEN_LINK_EVERY) != 0:
            parent_pos[pos] = up
            rooted[pos] = rooted[up]
        else:
            rooted[pos] = False
    seed_pos = rng.choice([p for p in range(accounts)
                           if rooted[p] and depth[p] == depth[-1]])
    acc = []
    for pos in range(accounts):
        n = perm[pos]
        parent = perm[parent_pos[pos]] if parent_pos[pos] is not None else None
        label = "Seed" if pos == seed_pos else "Acct"
        acc.append((n, f"{label} {n} {rng.randrange(10**6):06d}", parent))
    acc.sort()
    con = []
    for a in range(accounts):
        first = len(con)
        for j in range(contacts_per_account):
            reports = first + rng.randrange(j) if j > 0 and rng.randrange(4) else None
            con.append((len(con), f"Person {len(con)} {rng.randrange(10**6):06d}", a, reports))
    return acc, con


def cli_roundtrip(work, seed):
    """CSV network for `--load`, and one operation file for both calls:
    Account seeded by `Name LIKE 'Seed %'` and closed over ParentId in both
    directions, Contact as descendents closed over ReportsToId. Loading
    re-synthesizes every id, so the extract of the loaded target is checked
    by names: the expected slice is every Account tree that holds a seed
    (union-find over the generated links) and those accounts' contacts.
    """
    acc, con = _network(seed, ROUNDTRIP_ACCOUNTS, FANOUT, CONTACTS_PER_ACCOUNT)
    _write_describes(work)
    with open(os.path.join(work, "op.yml"), "w") as fh:
        fh.write("version: 1\noperation:\n"
                 "  - sobject: Account\n    field-group: readable\n"
                 "    extract:\n      query: \"Name LIKE 'Seed %'\"\n"
                 "  - sobject: Contact\n    field-group: readable\n"
                 "    extract:\n      descendents: True\n")
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "Account.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Id", "Name", "ParentId"])
        for n, name, p in acc:
            w.writerow([sf_id("Account", seed, n), name,
                        sf_id("Account", seed, p) if p is not None else ""])
    with open(os.path.join(src, "Contact.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Id", "LastName", "AccountId", "ReportsToId"])
        for n, name, a, r in con:
            w.writerow([sf_id("Contact", seed, n), name, sf_id("Account", seed, a),
                        sf_id("Contact", seed, r) if r is not None else ""])

    root = list(range(len(acc)))

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x
    for n, _, p in acc:
        if p is not None:
            root[find(n)] = find(p)
    seeds = {find(n) for n, name, _ in acc if name.startswith("Seed ")}
    keep = {n for n, _, _ in acc if find(n) in seeds}
    aname = {n: name for n, name, _ in acc}
    cname = {n: name for n, name, _, _ in con}
    acc = [a for a in acc if a[0] in keep]
    con = [c for c in con if c[2] in keep]
    return {
        "accounts": len(acc), "contacts": len(con),
        "account_names": multiset_hash(name for _, name, _ in acc),
        "contact_names": multiset_hash(name for _, name, _, _ in con),
        "account_edges": multiset_hash(
            f"{name}\u0001{aname[p]}" for _, name, p in acc if p is not None),
        "contact_edges": multiset_hash(
            f"{name}\u0001{aname[a]}\u0001{cname[r] if r is not None else ''}"
            for _, name, a, r in con),
        "dangling": 0,
        "result_rows": ROUNDTRIP_ACCOUNTS * (1 + CONTACTS_PER_ACCOUNT),
        "result_errors": 0,
    }


# --- query_mix ---------------------------------------------------------------
WORDS = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()
PART_WORDS = ("blue old widget gizmo small new large ring hot cold gear bolt "
              "plate red rod anvil").split()


def _ts(rng, lo, hi, n, unit):
    lo, hi = np.datetime64(lo, unit), np.datetime64(hi, unit)
    span = (hi - lo).astype(np.int64)
    return (lo + rng.integers(0, span + 1, n).astype(f"timedelta64[{unit}]")).astype("datetime64[us]")


def query_mix(work, seed, queries):
    """TPC-H-shaped tables plus events and documents, with the value domains
    of the repository's test data, at QUERY_MIX_SF; and the query order for
    one pass, shuffled by the seed."""
    rng = np.random.default_rng(seed)
    d = os.path.join(work, "data")
    os.makedirs(d, exist_ok=True)
    sf = QUERY_MIX_SF

    def n(base):
        return max(1, int(base * sf))

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(values, k):
        return np.array(values, dtype=object)[rng.integers(0, len(values), k)]

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    put("customer", {"c_custkey": np.arange(nc, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                     "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                     "c_acctbal": money(-999.99, 9999.99, nc),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], nc)})
    put("supplier", {"s_suppkey": np.arange(ns, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                     "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                     "s_acctbal": money(-999.99, 9999.99, ns)})
    w1, w2 = pick(PART_WORDS, np_), pick(PART_WORDS, np_)
    put("part", {"p_partkey": np.arange(np_, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(w1, w2)],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
                 "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], np_),
                 "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
                 "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    put("orders", {"o_orderkey": np.arange(no, dtype=np.int64),
                   "o_custkey": rng.integers(0, nc, no),
                   "o_orderstatus": pick(["O", "F", "P"], no),
                   "o_totalprice": money(1000.0, 500000.0, no),
                   "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", no, "D"),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], no)})
    put("lineitem", {"l_orderkey": rng.integers(0, no, nl),
                     "l_partkey": rng.integers(0, np_, nl),
                     "l_suppkey": rng.integers(0, ns, nl),
                     "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                     "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                     "l_extendedprice": money(900.0, 105000.0, nl),
                     "l_discount": rng.integers(0, 11, nl) / 100.0,
                     "l_tax": rng.integers(0, 9, nl) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], nl),
                     "l_linestatus": pick(["O", "F"], nl),
                     "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", nl, "D")})
    ne, nu = n(1_000_000), n(15_000)
    put("events", {"event_id": np.arange(ne, dtype=np.int64),
                   "ts": np.sort(_ts(rng, "2024-01-01", "2024-01-31", ne, "us")),
                   "user_id": rng.integers(0, nu, ne),
                   "event_type": pick(["view", "click", "purchase", "signup", "error"], ne),
                   "value": money(0.0, 560.0, ne),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n(50_000)
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(pick(WORDS, k)) for k in lens]
    put("documents", {"doc_id": np.arange(nd, dtype=np.int64), "text": texts,
                      "lang": pick(["en", "en", "en", "de", "fr", "es", "zh"], nd),
                      "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    order = list(queries)
    random.Random(seed).shuffle(order)
    with open(os.path.join(work, "queries.txt"), "w") as fh:
        fh.write("\n".join(order) + "\n")
    return {"queries": order}
