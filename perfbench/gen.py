"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from one seed:
the OSM changeset dump and replication feed of the `lifecycle` workload,
the document/embedding corpus of `query_mix`'s text and vector entries
and of the layer kernels, the TPC-H-shaped tables of `query_mix`, and
the per-pass orders and lookup ids. The same seed gives byte-identical files; a different seed gives
different ones.

Next to the inputs, `LifecycleTruth` keeps the state the feed must
produce: last-wins per changeset id in feed order, and per changeset the
latest full discussion (re-sent versions carry every earlier comment, so
`Replication.compactComments` over a batch keeps exactly the latest one).
Rows are compared through the same canonical lines and order-insensitive
hash the JVM side computes (`Canon` in `scala/graft/perfbench/Lifecycle.scala`).
"""
import gzip
import hashlib
import io
import json
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NULL = "\\N"
MASK64 = (1 << 64) - 1

# ---------------------------------------------------------------- canon


def line_hash(line):
    return int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")


def digest(n, acc):
    return f"{n}:{acc & MASK64:016x}"


def ts(epoch):
    import datetime
    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def iso(epoch):
    return ts(epoch).replace(" ", "T") + "Z"


def dec7(e7):
    return format(Decimal(e7).scaleb(-7), "f")


def changeset_line(c):
    bbox = c["bbox"]
    coords = [dec7(v) for v in bbox] if bbox else [NULL] * 4
    tags = "\x1f".join(f"{k}={v}" for k, v in sorted(c["tags"].items()))
    return "\t".join([str(c["id"]), str(c["uid"]), ts(c["created"]), *coords,
                      ts(c["closed"]) if c["closed"] is not None else NULL,
                      "true" if c["open"] else "false", str(c["num_changes"]),
                      c["user"], tags])


def comment_line(cs_id, m):
    return "\t".join([str(cs_id), str(m["uid"]), m["user"], ts(m["date"]), m["text"]])


# ------------------------------------------------------------ lifecycle

WORDS = ("fix add road building name river park bridge path shop school church "
         "farm forest lake rail bus stop survey align import update remove tag "
         "area house track village city water").split()
EDITORS = ["JOSM/1.5 (18822 en)", "iD 2.27.3", "Potlatch 2", "StreetComplete 54.1",
           "JOSM/1.5 (18900 de)", "Vespucci 19.0", "Every Door 4.1"]
EPOCH0 = 1420070400  # 2015-01-01T00:00:00Z

# the README's Liberty Island envelope, scaled up so the count is never 0
BBOX_QUERY = (400000000, 410000000, -750000000, -730000000)  # lat lo/hi, lon lo/hi (e7)


def _changeset(rng, cid, users):
    uid = rng.randrange(len(users))
    created = EPOCH0 + cid * 7 + rng.randrange(5)
    lat = rng.randrange(-880000000, 880000000)
    lon = rng.randrange(-1790000000, 1790000000)
    if rng.random() < 0.2:  # keep the README box populated
        lat = rng.randrange(401000000, 408000000)
        lon = rng.randrange(-745000000, -735000000)
    dlat, dlon = rng.randrange(1, 2000000), rng.randrange(1, 2000000)
    is_open = rng.random() < 0.15
    tags = {"created_by": rng.choice(EDITORS)}
    if rng.random() < 0.6:
        tags["comment"] = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(2, 7)))
    if rng.random() < 0.3:
        tags["source"] = rng.choice(["survey", "bing", "gps", "local knowledge"])
    return {
        "id": cid, "uid": uid, "user": users[uid], "created": created,
        "bbox": None if rng.random() < 0.05 else (lat, lat + dlat, lon, lon + dlon),
        "closed": None if is_open else created + rng.randrange(60, 7200),
        "open": is_open, "num_changes": rng.randrange(1, 5000), "tags": tags,
        "comments": [],
    }


def _comment(rng, c, users):
    uid = rng.randrange(len(users))
    n = len(c["comments"])
    return {"uid": uid, "user": users[uid], "date": c["created"] + 3600 * (n + 1),
            "text": f"{rng.choice(WORDS)} {rng.choice(WORDS)} #{n}"}


def _resend(rng, c, users, seq):
    """A newer version of an existing changeset, as the minutely feed
    re-sends it: possibly closed now, more changes, new tags, and its full
    discussion (earlier comments plus possibly a new one)."""
    n = dict(c, tags=dict(c["tags"]), comments=list(c["comments"]))
    n["num_changes"] = c["num_changes"] + 1 + rng.randrange(50)
    if n["open"] and rng.random() < 0.7:
        n["open"] = False
        n["closed"] = c["created"] + 86400 + seq
    n["tags"]["review_requested"] = rng.choice(["yes", "no"])
    if rng.random() < 0.5:
        n["comments"].append(_comment(rng, n, users))
    return n


def changeset_xml(c):
    a = [f'id="{c["id"]}"', f'created_at="{iso(c["created"])}"']
    if c["closed"] is not None:
        a.append(f'closed_at="{iso(c["closed"])}"')
    a += [f'open="{"true" if c["open"] else "false"}"',
          f'num_changes="{c["num_changes"]}"', f'user="{c["user"]}"', f'uid="{c["uid"]}"']
    if c["bbox"]:
        la0, la1, lo0, lo1 = (dec7(v) for v in c["bbox"])
        a += [f'min_lat="{la0}"', f'max_lat="{la1}"', f'min_lon="{lo0}"', f'max_lon="{lo1}"']
    body = "".join(f'<tag k="{k}" v="{v}"/>' for k, v in c["tags"].items())
    if c["comments"]:
        body += "<discussion>" + "".join(
            f'<comment uid="{m["uid"]}" user="{m["user"]}" date="{iso(m["date"])}">'
            f'<text>{m["text"]}</text></comment>' for m in c["comments"]) + "</discussion>"
    return f'<changeset {" ".join(a)}>{body}</changeset>\n'


def osm_doc(changesets, stamp):
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<osm version="0.6" generator="perfbench" timestamp="{iso(stamp)}">\n'
            + "".join(changeset_xml(c) for c in changesets) + "</osm>\n")


def sequence_path(seq):
    return f"{seq // 1000000:03d}/{(seq // 1000) % 1000:03d}/{seq % 1000:03d}.osm.gz"


def write_gz(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(text.encode("utf-8"))
    with open(path, "wb") as f:
        f.write(buf.getvalue())


class LifecycleTruth:
    """Expected table state after each applied feed sequence."""

    def __init__(self):
        self.rows = {}       # id -> canonical changeset line
        self.cs_acc = 0
        self.comments = {}   # id -> list of canonical comment lines
        self.cm_acc = 0
        self.cm_n = 0
        self.readme = [0, 0, 0]
        self.flags = {}      # id -> (has comment tag, JOSM, in box)

    def apply(self, c):
        cid = c["id"]
        line = changeset_line(c)
        if cid in self.rows:
            self.cs_acc -= line_hash(self.rows[cid])
            for i, f in enumerate(self.flags[cid]):
                self.readme[i] -= f
        self.rows[cid] = line
        self.cs_acc += line_hash(line)
        b = c["bbox"]
        flags = (int("comment" in c["tags"]),
                 int(c["tags"]["created_by"].startswith("JOSM")),
                 int(b is not None and b[0] >= BBOX_QUERY[0] and b[1] <= BBOX_QUERY[1]
                     and b[2] >= BBOX_QUERY[2] and b[3] <= BBOX_QUERY[3]))
        self.flags[cid] = flags
        for i, f in enumerate(flags):
            self.readme[i] += f
        if c["comments"]:
            old = self.comments.get(cid, [])
            self.cm_acc -= sum(line_hash(x) for x in old)
            self.cm_n -= len(old)
            new = [comment_line(cid, m) for m in c["comments"]]
            self.comments[cid] = new
            self.cm_acc += sum(line_hash(x) for x in new)
            self.cm_n += len(new)

    def snapshot(self):
        return {"changesets": digest(len(self.rows), self.cs_acc),
                "comments": digest(self.cm_n, self.cm_acc),
                "readme": list(self.readme)}


def lifecycle(seed, out, n_dump=40000, n_files=8, backlog=16, diff_n=400,
              max_ticks=60, lookups_per_tick=12):
    """Write the dump, the feed (all diffs, `state.yaml` left to the
    runner) and the lookup ids; return the expected states."""
    rng = random.Random(f"lifecycle:{seed}")
    users = [f"mapper{i}_{rng.randrange(10**6)}" for i in range(2000)]
    ids = list(range(1, n_dump + 1))
    rng.shuffle(ids)
    cur = {}
    per = n_dump // n_files
    for f in range(n_files):
        part = [_changeset(rng, cid, users) for cid in ids[f * per:(f + 1) * per]]
        for c in part:
            if rng.random() < 0.25:
                for _ in range(rng.randrange(1, 4)):
                    c["comments"].append(_comment(rng, c, users))
            cur[c["id"]] = c
        os.makedirs(f"{out}/dump", exist_ok=True)
        with open(f"{out}/dump/part{f:02d}.osm.xml", "w") as fh:
            fh.write(osm_doc(part, EPOCH0))
    truth = LifecycleTruth()
    for c in sorted(cur.values(), key=lambda c: c["id"]):
        truth.apply(c)
    states = {"load": truth.snapshot()}
    next_id = n_dump + 1
    lookups = []
    for seq in range(1, backlog + max_ticks + 1):
        live = sorted(cur)
        resent = [_resend(rng, cur[i], users, seq)
                  for i in rng.sample(live, diff_n // 2)]
        fresh = [_changeset(rng, next_id + k, users) for k in range(diff_n - diff_n // 2)]
        next_id += len(fresh)
        diff = resent + fresh
        rng.shuffle(diff)
        write_gz(f"{out}/feed/{sequence_path(seq)}", osm_doc(diff, EPOCH0 + seq * 60))
        for c in diff:
            cur[c["id"]] = c
            truth.apply(c)
        states[str(seq)] = truth.snapshot()
        if seq > backlog:
            # half the ids this tick touched, half anywhere in the table
            touched = [c["id"] for c in diff]
            picks = (rng.sample(touched, lookups_per_tick // 2)
                     + rng.sample(sorted(cur), lookups_per_tick - lookups_per_tick // 2))
            lookups.append({"tick": seq - backlog, "ids": picks,
                            "rows": [truth.rows[i] for i in picks]})
    with open(f"{out}/lookups.txt", "w") as fh:
        for lk in lookups:
            fh.write(" ".join(map(str, lk["ids"])) + "\n")
    with open(f"{out}/lifecycle.txt", "w") as fh:
        fh.write(f"backlog={backlog}\nmax_ticks={max_ticks}\nn_dump={n_dump}\n"
                 f"bbox={','.join(dec7(v) for v in BBOX_QUERY)}\n")
    return {"states": states, "lookups": lookups, "backlog": backlog}


# --------------------------------------------------------------- corpus

VOCAB_SIZE = 400


def corpus(seed, out, n_docs, n_vecs, dim=64, n_clusters=48):
    """documents.parquet + embeddings.parquet in the schema of the synthetic
    test tables: Zipf-distributed words (with planted near-duplicate documents) and
    unit vectors around seeded cluster centres."""
    rng = np.random.default_rng([seed, 7])
    vocab = np.array([f"w{i}" for i in range(VOCAB_SIZE)])
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    p /= p.sum()
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            w = texts[rng.integers(i)].split()
            j = rng.integers(len(w))
            w[j] = vocab[rng.integers(VOCAB_SIZE)]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(vocab, size=rng.integers(20, 90), p=p)))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n_vecs)
    v = centres[labels] + 0.6 * rng.normal(size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array((labels % 10).astype(np.int32)),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, f"{out}/documents.parquet")
    pq.write_table(emb, f"{out}/embeddings.parquet")


def passes(seed, out, names, n=200):
    """One line per pass: the entry names in that pass's seeded order."""
    rng = random.Random(f"passes:{seed}")
    with open(out, "w") as fh:
        for _ in range(n):
            order = list(names)
            rng.shuffle(order)
            fh.write(" ".join(order) + "\n")


# ------------------------------------------------------------ query mix


def tpch(seed, out, sf):
    """The TPC-H-shaped tables plus `events`, in the schema of the
    synthetic test tables (FIXTURES.md section B), scaled by `sf`."""
    rng = np.random.default_rng([seed, 11])
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    nations = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
               "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
               "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
               "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(nations),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    colors = np.array(["almond", "blue", "coral", "dim", "forest", "green", "khaki",
                       "lime", "navy", "olive", "peach", "red", "steel", "tan"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([" ".join(x) for x in colors[rng.integers(0, 14, (n_part, 3))]]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                     "PROMO"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(money(900, 2100, n_part))})
    start = np.datetime64("1992-01-01T00:00:00", "us")
    o_date = start + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(800, 500000, n_ord)),
        "o_orderdate": pa.array(o_date),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)])})
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    l_no = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_no),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(np.repeat(o_date, per)
                               + rng.integers(1, 122, n_li).astype("timedelta64[D]"))})
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 86400 * 30 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "view", "purchase", "error", "signup"])[
            rng.integers(0, 5, n_ev)]),
        "value": pa.array(money(0, 100, n_ev)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])})
    os.makedirs(out, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, f"{out}/{name}.parquet")
