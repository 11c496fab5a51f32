"""Output checks computed outside the program.

nightly: an independent recount of the downloads/views facts from the
day files closed so far, compared with the live store after the last
night.
dashboard: every response recomputed with DuckDB over the same fact
parquet and set dims derived here from the metadata.
The JVM checks nightly against a one-shot run and curation's stream
report against the batch one.
"""
import collections
import datetime as dt
import glob
import gzip
import json
import math
import os

import duckdb

import gen


def run(workload, inputs, work):
    if workload == "nightly":
        return nightly(work)
    if workload == "dashboard":
        return dashboard(inputs, work)
    return []


# --- nightly ----------------------------------------------------------------

def recount(log_root):
    """(date, id, datatype) -> count after line dedup, robots, missing
    item ids and the sequential repeat filter."""
    seen = set()
    hits = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_root, "*", "*.log.gz"))):
        with gzip.open(path, "rt", encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line or line in seen:
                    continue
                seen.add(line)
                ts, ip, ua, _ref, _svc, item, doc = line.split("\t")
                if gen.is_robot(ua, ip) or not item:
                    continue
                t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
                hits[(ip, int(item), int(doc) if doc else -1)].append(
                    (int(t.replace(tzinfo=dt.timezone.utc).timestamp()), t.date()))
    counts = collections.Counter()
    for (_ip, item, doc), hs in hits.items():
        hs.sort()
        last = None
        for sec, day in hs:
            if last is None or sec - last > gen.REPEAT_TIMEOUT:
                last = sec
                counts[(day.isoformat(), item, "downloads" if doc >= 0 else "views")] += 1
    return counts


def stored(con, root, datatype):
    path = os.path.join(root, datatype, "*", "*.parquet")
    if not glob.glob(path):
        return collections.Counter()
    rows = con.execute(
        "SELECT CAST(date AS VARCHAR), id, value, count FROM read_parquet(?, hive_partitioning = true)",
        [path]).fetchall()
    c = collections.Counter()
    for d, i, v, n in rows:
        c[(d, int(i), v)] += int(n)
    return c


def nightly(work):
    state = os.path.join(work, "state")
    expected = recount(os.path.join(state, "logs"))
    con = duckdb.connect()
    root = os.path.join(state, "facts")
    got = stored(con, root, "downloads") + stored(con, root, "views")
    diff = (got - expected) + (expected - got)
    return [{"name": "nightly.recount", "ok": not diff,
             "detail": "" if not diff else "%d fact keys differ, e.g. %s" % (len(diff), list(diff.items())[:3])}]


# --- dashboard ----------------------------------------------------------------

def dims(meta_path, tree_path):
    """(set_name, set_value, id) rows, derived independently of Sets."""
    parent = {}
    with open(tree_path) as f:
        for line in f:
            e = json.loads(line)
            parent[e["child"]] = e["parent"]
    rows = set()
    with open(meta_path) as f:
        for line in f:
            m = json.loads(line)
            i = m["id"]
            for d in m["divisions"]:
                rows.add(("divisions", d, i))
            for s in m["subjects"]:
                while s is not None:
                    rows.add(("subjects", s, i))
                    s = parent.get(s)
            rows.add(("type", m["type"], i))
            for c in m["creators"]:
                if c["id"].strip():
                    rows.add(("authors", gen.anonymized(c["id"]), i))
    return sorted(rows)


def expected_rows(con, p, post):
    """Rows the request should return, by the compiler's contract:
    SUM(count) grouped by the request's dims, ordered by the primary
    key then the other dims ascending, with offset and limit."""
    dtp = p["datatype"]
    where = ["TRUE"]
    args = []
    if "from" in p:
        where.append("f.date >= CAST(? AS DATE)")
        args.append(p["from"])
    if "to" in p:
        where.append("f.date <= CAST(? AS DATE)")
        args.append(p["to"])
    fields = [x for x in p.get("fields", "").split(",") if x]
    join = ""
    set_name = p.get("set_name")
    if set_name == "eprint":
        where.append("f.id = ?")
        args.append(int(p["set_value"]))
        dims_ = fields
    elif set_name:
        if "grouping" in p:
            where.append("f.id IN (SELECT id FROM dims WHERE set_name = ? AND set_value = ?)")
            args += [set_name, p["set_value"]]
            join = "JOIN dims g ON g.id = f.id AND g.set_name = '%s'" % p["grouping"]
            dims_ = ["grouping_value"]
        elif "set_value" in p:
            where.append("f.id IN (SELECT id FROM dims WHERE set_name = ? AND set_value = ?)")
            args += [set_name, p["set_value"]]
            dims_ = fields
        else:
            join = "JOIN dims s ON s.id = f.id AND s.set_name = '%s'" % set_name
            dims_ = ["set_value"]
    else:
        dims_ = fields
    col = {"grouping_value": "g.set_value AS grouping_value", "set_value": "s.set_value AS set_value",
           "date": "f.date AS date", "id": "f.id AS id", "value": "f.value AS value"}
    sel = ", ".join([col[d] for d in dims_] + ["CAST(SUM(f.count) AS BIGINT) AS count"])
    group = ("GROUP BY " + ", ".join(str(k + 1) for k in range(len(dims_)))) if dims_ else ""
    primary = p.get("order_by", "count")
    order = [primary + (" ASC" if p.get("order_desc") == "0" else " DESC")]
    order += [d + " ASC" for d in dims_ if d != primary]
    tail = ""
    if "limit" in p:
        tail += " LIMIT %d" % int(p["limit"])
    if "offset" in p:
        tail += " OFFSET %d" % int(p["offset"])
    sql = "SELECT %s FROM facts_%s f %s WHERE %s %s ORDER BY %s%s" % (
        sel, dtp, join, " AND ".join(where), group, ", ".join(order), tail)
    cur = con.execute(sql, args)
    names = [c[0] for c in cur.description]
    rows = [dict(zip(names, r)) for r in cur.fetchall()]
    if post == "keyfig":
        tot = collections.Counter()
        for r in rows:
            tot[r["value"]] += r["count"]
        out = {c: tot.get(c, 0) for c in gen.COUNTRIES}
        # Spark's round is half-up
        out["us_de_pct"] = math.floor(out["US"] * 100.0 / out["DE"] + 0.5) if out["DE"] else None
        return [out]
    if post.startswith("series_"):
        by_day = {r["date"]: r["count"] for r in rows}
        lo = dt.date.fromisoformat(p["from"])
        hi = dt.date.fromisoformat(p["to"])
        buckets = collections.OrderedDict()
        d = lo
        while d <= hi:
            key = d if post == "series_day" else d.replace(day=1)
            buckets[key] = buckets.get(key, 0) + by_day.get(d, 0)
            d += dt.timedelta(days=1)
        out, run_total = [], 0
        for k, v in buckets.items():
            run_total += v
            out.append({"d": k, "cnt": v, "cumulative": run_total})
        return out
    return rows


def normalize(v):
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()[:10]
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def dashboard(inputs, work):
    responses = os.path.join(work, "dashboard_responses.jsonl")
    con = duckdb.connect()
    for dtp in gen.FACT_DATATYPES:
        con.execute("CREATE VIEW facts_%s AS SELECT * FROM read_parquet('%s', hive_partitioning = true)"
                    % (dtp, os.path.join(inputs, "facts", dtp, "*", "*.parquet")))
    con.execute("CREATE TABLE dims (set_name VARCHAR, set_value VARCHAR, id BIGINT)")
    con.executemany("INSERT INTO dims VALUES (?, ?, ?)",
                    dims(os.path.join(inputs, "meta", "items.jsonl"),
                         os.path.join(inputs, "meta", "subject_tree.jsonl")))
    out = []
    with open(responses) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    for k, s in enumerate(lines):
        p = s["params"]
        got = json.loads(s["payload"]["json"])["data"]
        want = expected_rows(con, p, s["request"]["post"])
        got_n = [{k2: normalize(v) for k2, v in r.items()} for r in got]
        want_n = [{k2: normalize(v) for k2, v in r.items()} for r in want]
        ok = got_n == want_n
        out.append({"name": "dashboard.response.%d.%s" % (k, s["request"]["kind"]), "ok": ok,
                    "detail": "" if ok else "params %s: got %s want %s" % (p, got_n[:3], want_n[:3])})
    if not out:
        out.append({"name": "dashboard.response", "ok": False, "detail": "no responses recorded"})
    return out
