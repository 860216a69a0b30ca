"""Seeded input generator for the pipeline benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical parquet files. Beside the data the generator
writes `truth.json`, the ground truth the harness checks every timed
operation against. The truth is computed here, from the generator's own
model of the data, never by the engine under test.
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest

INGEST_ROWS = 1_500_000
INGEST_FILES = 6
INGEST_ORDERS = 375_000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FAULT_SHARE = 0.05


def _dict_col(codes, values):
    """String column from small-vocabulary codes (written as plain strings)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, type=pa.int32()), pa.array(values)).cast(pa.string())


def _write_parts(table, out_dir, parts):
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def gen_ingest(rng, out, rows=INGEST_ROWS, n_orders=INGEST_ORDERS,
               files=INGEST_FILES):
    okey = np.arange(1, n_orders + 1, dtype=np.int64)
    prio = rng.integers(0, len(PRIORITIES), n_orders)
    _write_parts(pa.table({"o_orderkey": okey,
                           "o_orderpriority": _dict_col(prio, PRIORITIES)}),
                 os.path.join(out, "orders"), 1)

    key = rng.integers(1, n_orders + 1, rows, dtype=np.int64)
    qty = rng.integers(1, 51, rows, dtype=np.int64)
    price = np.round(qty * rng.uniform(9.0, 20.0, rows), 2)
    disc = rng.integers(0, 11, rows) / 100.0
    flag = rng.integers(0, 3, rows)            # A N R
    status = rng.integers(0, 2, rows)          # O F
    # seeded faults: exactly 5% of rows break one of the six checks (each
    # check equally often), a fifth of those a second one too; fixed counts
    # keep the work the same from seed to seed
    faulty = rng.permutation(rows)[:int(rows * FAULT_SHARE)]
    key_null = np.zeros(rows, dtype=bool)
    for extra in (False, True):
        rows_f = faulty if not extra else faulty[:faulty.size // 5]
        kind = rng.permutation(np.arange(rows_f.size) % 6)
        for k in range(6):
            r = rows_f[kind == k]
            if k == 0:
                key_null[r] = True
            elif k == 1:
                disc[r] = np.where(rng.random(r.size) < 0.5, 0.15, -0.01)
            elif k == 2:
                flag[r] = 3                    # X
            elif k == 3:
                status[r] = 2                  # Z
            elif k == 4:
                price[r] = qty[r] - 0.5
            else:
                key[r] = n_orders + rng.integers(1, 100_000, r.size)
    lineitem = pa.table({
        "l_orderkey": pa.array(key, mask=key_null),
        "l_linenumber": pa.array(rng.integers(1, 8, rows, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_returnflag": _dict_col(flag, ["A", "N", "R", "X"]),
        "l_linestatus": _dict_col(status, ["O", "F", "Z"]),
    })
    _write_parts(lineitem, os.path.join(out, "lineitem"), files)

    # ground truth, from the final column values (not the injection plan)
    fails = {
        "key_present": key_null,
        "discount_band": ~((disc >= 0.0) & (disc <= 0.1)),
        "flag_known": flag == 3,
        "status_shape": status == 2,
        "price_covers_qty": ~(price >= qty),
        "order_exists": key_null | (key > n_orders),
    }
    bad = np.zeros(rows, dtype=bool)
    for m in fails.values():
        bad |= m
    ok = ~bad & (qty >= 5)
    gcode = prio[key[ok] - 1] * 3 + flag[ok]
    n = np.bincount(gcode, minlength=15)
    q = np.bincount(gcode, weights=qty[ok], minlength=15)
    groups = [{"o_orderpriority": PRIORITIES[g // 3],
               "l_returnflag": "ANR"[g % 3], "n": int(n[g]), "qty": int(q[g])}
              for g in range(15) if n[g] > 0]
    return {"rows": rows, "passed": int(rows - bad.sum()),
            "quarantined": int(bad.sum()),
            "check_fails": {c: int(m.sum()) for c, m in fails.items()},
            "groups": groups}


# ---------------------------------------------------------- table_upsert

BASE_ROWS = 200_000
BASE_FILES = 24
CUSTOMERS = 20_000
N_OPS = 96
CHECKPOINT_EVERY = 5       # commits between log checkpoints
OPTIMIZE_EVERY = 8         # ops between OPTIMIZE runs (one per cycle)
RECENT_SHARE = 0.10        # "recent" = the newest 10% of live keys
MERGE_KEYS = (1500, 4500)  # the two merges of a cycle: a small and a large
DELETE_KEYS = 500
# one cycle of the op mix; commits, reads and refreshes interleave
CYCLE = ["append", "merge", "read_latest", "delete", "mv_refresh", "merge",
         "read_asof", "update_where"]
STATUSES = ["O", "F", "P"]
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalcents",
        "o_version", "o_clerk"]


def row_crcs(keys, cust, status, cents, version, clerk):
    """crc32 of each row's '|'-joined text, as Spark's
    crc32(concat_ws('|', cast(col AS string), ...)) computes it."""
    return np.array([zlib.crc32(
        f"{k}|{c}|{STATUSES[s]}|{t}|{v}|{CLERKS[cl]}".encode())
        for k, c, s, t, v, cl in zip(keys.tolist(), cust.tolist(),
                                     status.tolist(), cents.tolist(),
                                     version.tolist(), clerk.tolist())],
        dtype=np.int64)


class TableModel:
    """The reference table as columns indexed by o_orderkey (keys are dense
    from 1), plus the per-customer view: count and sum of o_totalcents."""

    def __init__(self, capacity):
        self.cust = np.zeros(capacity, dtype=np.int64)
        self.status = np.zeros(capacity, dtype=np.int64)
        self.cents = np.zeros(capacity, dtype=np.int64)
        self.version = np.zeros(capacity, dtype=np.int64)
        self.clerk = np.zeros(capacity, dtype=np.int64)
        self.crc = np.zeros(capacity, dtype=np.int64)
        self.alive = np.zeros(capacity, dtype=bool)
        self.max_key = 0
        self.mv_n = np.zeros(CUSTOMERS + 1, dtype=np.int64)
        self.mv_t = np.zeros(CUSTOMERS + 1, dtype=np.int64)
        self.mv_crc = np.zeros(CUSTOMERS + 1, dtype=np.int64)
        self.dirty = np.ones(CUSTOMERS + 1, dtype=bool)

    def delete(self, keys):
        keys = keys[self.alive[keys]]
        np.subtract.at(self.mv_n, self.cust[keys], 1)
        np.subtract.at(self.mv_t, self.cust[keys], self.cents[keys])
        self.dirty[self.cust[keys]] = True
        self.alive[keys] = False

    def put(self, keys, cust, status, cents, version, clerk):
        """Insert or replace rows (keys distinct)."""
        if keys.size == 0:
            return
        self.delete(keys)
        for col, v in ((self.cust, cust), (self.status, status),
                       (self.cents, cents), (self.version, version),
                       (self.clerk, clerk)):
            col[keys] = v
        self.crc[keys] = row_crcs(keys, cust, status, cents, version, clerk)
        self.alive[keys] = True
        np.add.at(self.mv_n, cust, 1)
        np.add.at(self.mv_t, cust, cents)
        self.dirty[cust] = True
        self.max_key = max(self.max_key, int(keys.max()))

    def rows(self, keys):
        return (keys, self.cust[keys], self.status[keys], self.cents[keys],
                self.version[keys], self.clerk[keys])

    def of_customer(self, c):
        return np.flatnonzero(self.alive & (self.cust == c))

    def state(self):
        return {"count": int(self.alive.sum()),
                "hash": int(self.crc[self.alive].sum())}

    def view(self):
        """(groups, hash) of the view: crc32 of 'custkey|n|n|total' summed."""
        for c in np.flatnonzero(self.dirty).tolist():
            n, t = int(self.mv_n[c]), int(self.mv_t[c])
            self.mv_crc[c] = zlib.crc32(f"{c}|{n}|{n}|{t}".encode()) if n else 0
        self.dirty[:] = False
        return int((self.mv_n > 0).sum()), int(self.mv_crc.sum())


CLERKS = [f"Clerk#{i:06d}" for i in range(1000)]


def _new_rows(keys, rng, version):
    n = len(keys)
    return (np.asarray(keys, dtype=np.int64),
            rng.integers(1, CUSTOMERS + 1, n), rng.integers(0, 3, n),
            rng.integers(1_000, 500_000, n), np.full(n, version, dtype=np.int64),
            rng.integers(1, 1000, n))


def _table(rows):
    keys, cust, status, cents, version, clerk = rows
    return pa.table({"o_orderkey": keys, "o_custkey": cust,
                     "o_orderstatus": _dict_col(status, STATUSES),
                     "o_totalcents": cents, "o_version": version,
                     "o_clerk": _dict_col(clerk, CLERKS)})


def _pick_existing(rng, model, n, recent):
    """n distinct live keys, ~70% from the newest 10% of the key range."""
    hi = model.max_key
    lo_recent = int(hi * (1 - RECENT_SHARE))
    n = min(n, int(model.alive.sum()) // 4)
    out = np.zeros(0, dtype=np.int64)
    while out.size < n:
        m = 2 * (n - out.size)
        cand = np.where(rng.random(m) < 0.7, rng.integers(lo_recent, hi + 1, m),
                        rng.integers(1, hi + 1, m))
        cand = cand[model.alive[cand] & ~np.isin(cand, out)]
        _, first = np.unique(cand, return_index=True)
        out = np.concatenate([out, cand[np.sort(first)]])[:n]
    recent[0] += int((out > lo_recent).sum())
    recent[1] += n
    return out


def gen_table_upsert(rng, out, base_rows=BASE_ROWS, n_ops=N_OPS):
    model = TableModel(base_rows + n_ops * 3000 + 1)
    base = _new_rows(np.arange(1, base_rows + 1), rng, 0)
    model.put(*base)
    _write_parts(_table(base), os.path.join(out, "base"), BASE_FILES)
    ops, recent, commits = [], [0, 0], 0
    for i in range(n_ops):
        kind = CYCLE[i % len(CYCLE)]
        if kind == "update_where" and (i // len(CYCLE)) % 2:
            kind = "delete_where"
        op = {"i": i, "kind": kind}
        batch = None
        if kind == "append":
            start = model.max_key + 1
            batch = _new_rows(np.arange(start, start + 2000), rng, 0)
        elif kind == "merge":
            n = MERGE_KEYS[int(i % len(CYCLE) >= len(CYCLE) // 2)]
            n_new = int(n * 0.15)
            upd = _new_rows(_pick_existing(rng, model, n - n_new, recent), rng, i + 1)
            start = model.max_key + 1
            ins = _new_rows(np.arange(start, start + n_new), rng, i + 1)
            batch = tuple(np.concatenate([a, b]) for a, b in zip(upd, ins))
        elif kind == "delete":
            batch = (_pick_existing(rng, model, DELETE_KEYS, recent),)
        elif kind in ("update_where", "delete_where"):
            op["custkey"] = int(rng.integers(1, CUSTOMERS + 1))
        elif kind == "read_asof":
            # the state after an earlier commit (a few ops back)
            earlier = [o["i"] for o in ops[-9:] if o.get("commit")]
            op["target"] = earlier[int(rng.integers(0, len(earlier)))]
        if batch is not None:
            path = os.path.join(out, "changes", f"op{i:04d}")
            os.makedirs(path)
            t = (_table(batch) if kind != "delete" else
                 pa.table({"o_orderkey": batch[0]}))
            pq.write_table(t, os.path.join(path, "part-00000.parquet"))
            op["rows"] = len(batch[0])
            op["bytes"] = os.path.getsize(os.path.join(path, "part-00000.parquet"))
        # apply to the reference model
        if kind in ("append", "merge"):
            model.put(*batch)
        elif kind == "delete":
            model.delete(batch[0])
        elif kind == "update_where":
            keys, cust, status, cents, version, clerk = model.rows(
                model.of_customer(op["custkey"]))
            model.put(keys, cust, status, cents + 1, version + 1, clerk)
        elif kind == "delete_where":
            model.delete(model.of_customer(op["custkey"]))
        op["commit"] = kind in ("append", "merge", "delete", "update_where",
                                "delete_where")
        if op["commit"]:
            commits += 1
            op["checkpoint_after"] = commits % CHECKPOINT_EVERY == 0
        op["optimize_after"] = (i + 1) % OPTIMIZE_EVERY == 0
        op.update(model.state())
        if kind == "mv_refresh":
            op["mv_count"], op["mv_hash"] = model.view()
        ops.append(op)
    return {"base_rows": base_rows, "base_files": BASE_FILES,
            "cycle": len(CYCLE),
            "customers": CUSTOMERS, "recent_key_share": recent[0] / recent[1],
            "ops": ops}


# ---------------------------------------------------------------- curate

DOCS = 1000
VOCAB = 20_000
ZIPF_S = 1.1
CLUSTER_SHARE = 0.15
NULL_SHARE = 0.01
REPETITIVE_SHARE = 0.03
BENCH_IDS = 5          # decontamination benchmark: doc_id < 5
NGRAM = 5
QUALITY_THRESHOLD = 0.7


def _zipf_doc(rng, p):
    return list(rng.choice(VOCAB, int(rng.integers(150, 260)), p=p))


def _words(ids):
    return " ".join(f"w{t}" for t in ids)


def _jaccard(a, b):
    a, b = set(a), set(b)
    return len(a & b) / len(a | b)


def gen_curate(rng, out, docs=DOCS):
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    fresh = [VOCAB]                        # tokens used by no other doc

    def new_token():
        fresh[0] += 1
        return fresh[0]

    toks, cluster_of = [], {}
    n_cluster_docs = int(docs * CLUSTER_SHARE)
    cid = 0
    while len(toks) < n_cluster_docs:
        base = _zipf_doc(rng, p)
        if len(set(base)) < 90:
            continue
        size = 2 + cid % 4              # clusters of 2, 3, 4 and 5 docs
        members = []
        while len(members) < size:
            m = list(base)
            m[int(rng.integers(0, len(m)))] = new_token()
            if all(_jaccard(m, o) >= 0.95 for o in members + [base]):
                members.append(m)
        for m in members:
            cluster_of[len(toks)] = cid
            toks.append(m)
        cid += 1
    n_plain = docs - len(toks)
    repetitive = set(rng.permutation(n_plain)[:int(n_plain * REPETITIVE_SHARE)])
    for j in range(n_plain):
        d = _zipf_doc(rng, p)
        if j in repetitive:                     # fails quality_filter
            d = [d[0]] * (len(d) - 10) + d[:10]
        toks.append(d)
    # shuffle doc order so clusters are not contiguous ids
    perm = rng.permutation(docs)
    toks = [toks[j] for j in perm]
    inv = np.argsort(perm)
    cluster_of = {int(inv[j]): c for j, c in cluster_of.items()}
    text = [_words(t) for t in toks]
    null = np.zeros(docs, dtype=bool)
    null[BENCH_IDS + rng.permutation(docs - BENCH_IDS)[:int(docs * NULL_SHARE)]] = True
    texts = [None if null[i] else text[i] for i in range(docs)]
    n_chars = [0 if t is None else len(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _dict_col(rng.integers(0, 3, docs), ["en", "de", "fr"]),
        "source": _dict_col(rng.integers(0, 4, docs),
                            ["web", "books", "code", "wiki"]),
        "n_chars": pa.array(n_chars, type=pa.int64()),
    })
    _write_parts(table, os.path.join(out, "documents"), 4)

    # ground truth: checks -> quality_filter -> dedup -> decontaminate
    def quality_ok(t):
        return 1.0 - len(set(t)) / len(t) <= QUALITY_THRESHOLD
    alive = [i for i in range(docs) if not null[i] and quality_ok(toks[i])]
    best = {}
    for i in alive:
        c = cluster_of.get(i)
        if c is not None:
            best[c] = min(best.get(c, i), i)
    survivors = [i for i in alive
                 if i not in cluster_of or best[cluster_of[i]] == i]

    def grams(words):
        return {" ".join(words[j:j + NGRAM])
                for j in range(len(words) - NGRAM + 1)}
    bench = set()
    for i in range(BENCH_IDS):
        bench |= grams(text[i].split(" "))
    final = [i for i in survivors
             if not (grams(text[i].split(" ")) & bench)]
    return {"docs": docs, "null_text": int(null.sum()),
            "quality_dropped": int(docs - null.sum() - len(alive)),
            "clusters": cid, "cluster_docs": len(cluster_of),
            "dedup_survivors": len(survivors),
            "survivors": final}


GENERATORS = {"ingest": gen_ingest, "table_upsert": gen_table_upsert,
              "curate": gen_curate}
# small inputs for the set-up warm-up (same shapes, same code paths)
WARM = {"ingest": lambda rng, out: gen_ingest(rng, out, rows=2_000,
                                              n_orders=500, files=2),
        "table_upsert": lambda rng, out: gen_table_upsert(
            rng, out, base_rows=500, n_ops=2),
        "curate": lambda rng, out: gen_curate(rng, out, docs=60)}


def generate(workload, seed, out):
    """Write the workload's inputs and truth.json under `out`."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, out)
    truth["seed"] = seed
    truth["warm"] = WARM[workload](np.random.default_rng([seed, 99]),
                                   os.path.join(out, "warm"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
