"""Seeded input generator for the benchmark.

Every input the program sees is made here from `--seed`; the same seed
gives byte-identical files. The shares below are the knobs the program's
behaviour depends on, and each says why it has the value it has.
"""
import datetime as dt
import gzip
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- access-log shape ------------------------------------------------------
# Robot shares: public repository logs carry a few percent crawler traffic
# that the robots filter (F1 by UA, F2 by IP prefix) must drop; both
# predicates then do real work on every row without dominating the input.
ROBOT_UA_SHARE = 0.04
ROBOT_IP_SHARE = 0.03
# Double clicks: a re-request of the same (ip, item, doc) within the
# 3600 s repeat timeout. 12% gives the sequential repeat filter real
# per-key chains, some longer than one timeout window.
REPEAT_SHARE = 0.12
# Logger double writes: exact duplicate lines the line dedup removes.
DUP_LINE_SHARE = 0.01
# Direct traffic: no referrer, so the referrer classifier's empty branch runs.
EMPTY_REFERRER_SHARE = 0.30
# Search-engine referrers carry query terms for the search_terms processor.
SEARCH_REFERRER_SHARE = 0.20
# Hits without an item id (home page, browse views) are never counted.
NO_ITEM_SHARE = 0.01
# Downloads carry a document id; the rest are abstract-page views.
DOWNLOAD_SHARE = 0.60
# Item popularity is Zipf-like: a few items take most hits, so top-N
# queries have a real head and day partitions carry skewed item counts.
ZIPF_S = 1.1
ITEMS = 2000
USERS = 3000

ROBOT_UAS = [
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "python-requests/2.31.0",
    "Wget/1.21.3",
]
HUMAN_UAS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 Version/17.2 Safari/605.1.15",
    "Opera/9.80 (Windows NT 6.1) Presto/2.12.388 Version/12.16",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) Mobile/15E148 Safari/604.1",
]
# Must match the program's built-in robot lists (graft.filters.Robots).
ROBOT_UA_PATTERNS = [
    "bot", "crawl", "spider", "slurp", "archiver", "harvester",
    "scraper", "wget", "curl", "httpclient", "libwww", "python-requests",
    "java/", "feedfetcher", "mediapartners", "facebookexternalhit",
    "semrush", "ahrefs", "mj12", "dotbot", "petalbot", "bytespider"]
ROBOT_IP_PREFIXES = [
    "66.249.", "40.77.", "157.55.", "207.46.", "180.76.", "220.181.",
    "123.125.", "17.241.", "114.119."]
SEARCH_WORDS = ["spark", "statistics", "repository", "open", "access",
                "thesis", "citation", "network", "learning", "climate"]
LOCAL_HOST = "myrepo.org"
REPEAT_TIMEOUT = 3600
LOG_EPOCH = dt.date(2024, 1, 1)


def is_robot(ua, ip):
    low = ua.lower()
    return (any(p in low for p in ROBOT_UA_PATTERNS)
            or any(ip.startswith(p) for p in ROBOT_IP_PREFIXES))


def zipf_weights(n, s):
    w = [1.0 / (k ** s) for k in range(1, n + 1)]
    tot = sum(w)
    return [x / tot for x in w]


class Population:
    """Users (ip, ua) and the item popularity ranking for one seed."""

    def __init__(self, rng):
        robot_octets = {int(p.split(".")[0]) for p in ROBOT_IP_PREFIXES}
        octets = [o for o in range(1, 224) if o not in robot_octets]
        self.users = []
        for _ in range(USERS):
            ip = "%d.%d.%d.%d" % (rng.choice(octets), rng.randrange(256),
                                  rng.randrange(256), rng.randrange(1, 255))
            self.users.append((ip, rng.choice(HUMAN_UAS)))
        ranked = list(range(1, ITEMS + 1))
        rng.shuffle(ranked)
        self.items = ranked
        self.cum = []
        acc = 0.0
        for w in zipf_weights(ITEMS, ZIPF_S):
            acc += w
            self.cum.append(acc)

    def item(self, rng):
        import bisect
        return self.items[min(bisect.bisect_left(self.cum, rng.random()), ITEMS - 1)]


def referrer(rng, item):
    r = rng.random()
    if r < EMPTY_REFERRER_SHARE:
        return ""
    r -= EMPTY_REFERRER_SHARE
    if r < SEARCH_REFERRER_SHARE:
        q = "+".join(rng.sample(SEARCH_WORDS, rng.randint(1, 3)))
        return "https://www.google.com/search?q=" + q
    if rng.random() < 0.5:
        return "https://%s/view/%d" % (LOCAL_HOST, item)
    return "https://partner%d.example.com/list" % rng.randrange(5)


def day_lines(rng, pop, day, n):
    """`n` base hits on `day` plus repeats and duplicate lines."""
    hits = []
    base = dt.datetime(day.year, day.month, day.day)
    for _ in range(n):
        ip, ua = rng.choice(pop.users)
        r = rng.random()
        if r < ROBOT_UA_SHARE:
            ua = rng.choice(ROBOT_UAS)
        elif r < ROBOT_UA_SHARE + ROBOT_IP_SHARE:
            ip = rng.choice(ROBOT_IP_PREFIXES) + "%d.%d" % (rng.randrange(256), rng.randrange(1, 255))
        item = pop.item(rng)
        doc = str(rng.randint(1, 3)) if rng.random() < DOWNLOAD_SHARE else ""
        item_s = "" if rng.random() < NO_ITEM_SHARE else str(item)
        sec = rng.randrange(86400)
        hits.append([sec, ip, ua, referrer(rng, item), item_s, doc])
        if rng.random() < REPEAT_SHARE:
            # a re-click inside the timeout, clamped to the same day
            again = min(86399, sec + rng.randrange(1, 2 * REPEAT_TIMEOUT))
            hits.append([again, ip, ua, referrer(rng, item), item_s, doc])
    hits.sort(key=lambda h: h[0])
    lines = []
    for sec, ip, ua, ref, item_s, doc in hits:
        ts = (base + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%SZ")
        lines.append("\t".join([ts, ip, ua, ref, "svc", item_s, doc]))
        if rng.random() < DUP_LINE_SHARE:
            lines.append(lines[-1])
    return lines


def write_day(root, day, lines):
    d = os.path.join(root, "%04d" % day.year)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, day.isoformat() + ".log.gz")
    # mtime=0 keeps the gzip header, and so the file bytes, seed-stable
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(("\n".join(lines) + "\n").encode("utf-8"))
    return path


def access_logs(seed, root, days, lines_per_day):
    """Day files `root/YYYY/YYYY-MM-DD.log.gz` for `days` days from
    LOG_EPOCH. Returns [(day, path, line_count)]."""
    rng = random.Random(seed)
    pop = Population(rng)
    out = []
    for k in range(days):
        day = LOG_EPOCH + dt.timedelta(days=k)
        # a fixed base count per day: the seed changes content, not volume
        lines = day_lines(rng, pop, day, lines_per_day)
        out.append((day, write_day(root, day, lines), len(lines)))
    return out


# --- repository metadata ---------------------------------------------------
DIVISIONS = ["div%02d" % i for i in range(12)]
TYPES = ["article", "book", "thesis", "conference_item", "dataset"]
FAMILIES = ["smith", "o'neil", "van der berg", "mcdonald", "garcia", "nguyen",
            "müller", "dupont", "rossi", "kowalski", "tanaka", "silva"]
GIVENS = ["ann", "bob", "chen", "dara", "eli", "fatima", "georg", "hana"]


def subject_tree():
    """Three-level subject tree: 4 roots x 3 children x 3 leaves, so the
    ancestor closure runs two rounds before it stops growing."""
    edges = []
    leaves = []
    for r in range(4):
        root = "S%d" % r
        for c in range(3):
            mid = "%s.%d" % (root, c)
            edges.append((mid, root))
            for l in range(3):
                leaf = "%s.%d" % (mid, l)
                edges.append((leaf, mid))
                leaves.append(leaf)
    return edges, leaves


def metadata(seed, path):
    """One JSON object per item: multi-valued divisions and subjects, a
    type, and compound creators keyed by an id the sets anonymize."""
    rng = random.Random(seed * 7 + 1)
    _, leaves = subject_tree()
    authors = []
    for a in range(400):
        authors.append({"name": {"family": rng.choice(FAMILIES), "given": rng.choice(GIVENS)},
                        "id": " A%04d@uni.example " % a if a % 10 == 0 else "a%04d@uni.example" % a})
    with open(path, "w", encoding="utf-8") as f:
        for item in range(1, ITEMS + 1):
            rec = {
                "id": item,
                "divisions": rng.sample(DIVISIONS, rng.choice([1, 1, 2, 3])),
                "subjects": rng.sample(leaves, rng.choice([1, 2])),
                "type": rng.choice(TYPES),
                "creators": rng.sample(authors, rng.randint(1, 4)),
                "full_text_status": rng.choice(["public", "public", "restricted", "none"]),
            }
            f.write(json.dumps(rec) + "\n")


def tree_file(path):
    edges, _ = subject_tree()
    with open(path, "w") as f:
        for child, parent in edges:
            f.write(json.dumps({"child": child, "parent": parent}) + "\n")


# --- stored fact history (dashboard) ---------------------------------------
FACT_DATATYPES = ["downloads", "views", "countries", "referrer"]
COUNTRIES = ["US", "DE", "GB", "FR", "JP", "CN", "BR", "IN"]
REF_LABELS = ["direct", "internal", "google", "partner"]


def fact_history(seed, root, days, hits_per_day):
    """Date-partitioned parquet fact tables in the store's own layout
    (`<root>/<datatype>/date=YYYY-MM-DD/part-0.parquet`, columns id,
    value, count): a restored production store the dashboard reads."""
    rng = random.Random(seed * 13 + 5)
    pop = Population(random.Random(seed))
    schema = pa.schema([("id", pa.int64()), ("value", pa.string()), ("count", pa.int64())])
    for k in range(days):
        day = LOG_EPOCH + dt.timedelta(days=k)
        agg = {d: {} for d in FACT_DATATYPES}
        for _ in range(hits_per_day):
            item = pop.item(rng)
            if rng.random() < DOWNLOAD_SHARE:
                key = (item, "downloads")
                agg["downloads"][key] = agg["downloads"].get(key, 0) + 1
                c = (item, COUNTRIES[rng.randrange(len(COUNTRIES))])
                agg["countries"][c] = agg["countries"].get(c, 0) + 1
            else:
                key = (item, "views")
                agg["views"][key] = agg["views"].get(key, 0) + 1
            r = (item, REF_LABELS[rng.randrange(len(REF_LABELS))])
            agg["referrer"][r] = agg["referrer"].get(r, 0) + 1
        for dtp, rows in agg.items():
            if not rows:
                continue
            d = os.path.join(root, dtp, "date=" + day.isoformat())
            os.makedirs(d, exist_ok=True)
            keys = sorted(rows)
            table = pa.table({"id": [k[0] for k in keys], "value": [k[1] for k in keys],
                              "count": [rows[k] for k in keys]}, schema=schema)
            pq.write_table(table, os.path.join(d, "part-0.parquet"))


# --- curation corpus --------------------------------------------------------
LANG_WORDS = {
    "en": ["the", "of", "and", "is", "a"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}
CONTENT = ["repository", "statistics", "network", "archive", "download",
           "citation", "dataset", "analysis", "research", "journal",
           "library", "metadata", "harvest", "protocol", "version",
           "service", "access", "record", "collection", "institution"]
# Exact clones of an earlier document: what the exact dedup removes.
CLONE_SHARE = 0.15
# Novel variants carrying an email or phone: the PII scrub rewrites them.
PII_SHARE = 0.10
# Documents too short for the quality gate (20..90 tokens).
SHORT_SHARE = 0.08
# Candidates sharing an 8-token run with the benchmark split.
LEAK_SHARE = 0.03
SOURCES = 10


def corpus(seed, root, docs, files):
    """Candidate corpus as `files` parquet files (doc_id, text, source)
    under root/docs, and a benchmark split under root/benchmark."""
    rng = random.Random(seed * 31 + 7)
    bench_runs = [" ".join(rng.choice(CONTENT) for _ in range(8)) for _ in range(20)]
    texts, sources = [], []
    for i in range(docs):
        if texts and rng.random() < CLONE_SHARE:
            j = rng.randrange(len(texts))
            texts.append(texts[j])
            sources.append(sources[j] if rng.random() < 0.5 else "src%d" % rng.randrange(SOURCES))
            continue
        lang = rng.choice(list(LANG_WORDS))
        n = rng.randint(5, 12) if rng.random() < SHORT_SHARE else rng.randint(25, 70)
        words = [rng.choice(LANG_WORDS[lang]) if rng.random() < 0.3 else rng.choice(CONTENT)
                 for _ in range(n)]
        if rng.random() < PII_SHARE:
            words.insert(rng.randrange(len(words)), rng.choice(
                ["contact%d@uni.example" % rng.randrange(50), "555-%04d" % rng.randrange(10000)]))
        if rng.random() < LEAK_SHARE:
            words.insert(rng.randrange(len(words)), rng.choice(bench_runs))
        texts.append(" ".join(words))
        sources.append("src%d" % rng.randrange(SOURCES))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string())])
    os.makedirs(os.path.join(root, "docs"), exist_ok=True)
    per = (docs + files - 1) // files
    for f in range(files):
        lo, hi = f * per, min(docs, (f + 1) * per)
        pq.write_table(pa.table({"doc_id": list(range(lo, hi)), "text": texts[lo:hi],
                                 "source": sources[lo:hi]}, schema=schema),
                       os.path.join(root, "docs", "part-%03d.parquet" % f))
    bench = [" ".join([rng.choice(CONTENT) for _ in range(10)] + [run]) for run in bench_runs]
    os.makedirs(os.path.join(root, "benchmark"), exist_ok=True)
    pq.write_table(pa.table({"doc_id": list(range(len(bench))), "text": bench,
                             "source": ["bench"] * len(bench)}, schema=schema),
                   os.path.join(root, "benchmark", "part-000.parquet"))


def anonymized(author_id):
    """The set key of an anonymized compound author (Sets: md5 of the
    lower-cased, trimmed id)."""
    return hashlib.md5(author_id.strip().lower().encode("utf-8")).hexdigest()
