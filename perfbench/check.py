"""Correctness checks of a benchmark run's outputs, outside the timed spans.

Each check returns a list of (name, ok, detail). The dashboard check also
returns the ids of requests whose result disagreed with DuckDB, so the
operations that issued them count as failed.
"""
import json
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check_oracle import canon  # noqa: E402  (the repo's oracle row canonicalizer)


def _rows(con, sql):
    return con.execute(sql).fetchall()


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


# ---------------------------------------------------------------- IPES

def sanitize_filename(name):
    """Python twin of graft.etl.Normalize.sanitizeFilename."""
    s = re.sub(r'[<>:"/\\|?*]', "_", name or "")
    s = re.sub(r"\s+", "_", s)
    s = re.sub(r"_+", "_", s)
    return re.sub(r"^_+|_+$", "", s[:80])


_MAGIC = {".pdf": b"%PDF", ".docx": b"PK", ".doc": bytes([0xD0, 0xCF, 0x11, 0xE0])}


def _ipes_state(con, companies_dir, filings_dir, downloads):
    comp = _rows(con, f"""SELECT id, entity_name, normalized_name
        FROM read_csv('{companies_dir}/*.csv', header=true, all_varchar=true)""")
    fil = _rows(con, f"""SELECT company_id, filing_id, primary_doc_url
        FROM read_csv('{filings_dir}/*.csv', header=true, all_varchar=true)""")
    entity = {c[0]: c[1] for c in comp}
    eligible = {f"{sanitize_filename(entity[f[0]])}_{f[1]}" for f in fil
                if f[2] and f[0] in entity}
    return {"companies": {c[2] for c in comp}, "n_companies": len(comp),
            "n_filings": len(fil), "eligible": eligible,
            "files": {os.path.splitext(n)[0] for n in downloads}}


def check_ipes(facts):
    """The cold run from its kept snapshot, the re-run from the out dir."""
    con = _connect()
    out, snap, limit = facts["out_dir"], facts["cold_snapshot"], facts["doc_limit"]
    c, r = facts["cold_stats"], facts["incremental_stats"]
    with open(f"{snap}/downloads.txt") as f:
        cold_downloads = [n for n in f.read().split("\n") if n]
    ddir = f"{out}/downloads"
    downloads = sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []
    cold = _ipes_state(con, f"{snap}/companies", f"{snap}/filings", cold_downloads)
    now = _ipes_state(con, f"{out}/structured/companies", f"{out}/structured/filings",
                      downloads)
    enriched = _rows(con, f"SELECT count(*) FROM read_parquet('{out}/enriched/*.parquet')")[0][0]
    history = _rows(con, f"""SELECT companies, filings, enriched, cache_hits,
        downloads_ok, downloads_failed
        FROM read_parquet('{out}/monitoring/run_stats/*/*.parquet', hive_partitioning=true)
        ORDER BY run_ts""")
    bad_magic = []
    for n in downloads:
        with open(os.path.join(ddir, n), "rb") as fh:
            head = fh.read(8)
        if not head.startswith(_MAGIC.get(os.path.splitext(n)[1], b"\x00" * 5)):
            bad_magic.append(n)
    cold_queued = min(limit, len(cold["eligible"]))
    carried = len(now["companies"] & cold["companies"])
    new = now["files"] - cold["files"]
    rerun_queued = min(limit, len(now["eligible"] - cold["files"]))
    keys = ["companies", "filings", "enriched", "cache_hits", "downloads_ok", "downloads_failed"]
    return [
        ("ipes.cold_csv", (cold["n_companies"], cold["n_filings"]) == (c["companies"], c["filings"]),
         f"csv={cold['n_companies']},{cold['n_filings']} stats={c['companies']},{c['filings']}"),
        ("ipes.cold_cache_hits", c["cache_hits"] == 0, str(c["cache_hits"])),
        ("ipes.cold_enriched", c["enriched"] == c["companies"], f"{c['enriched']} of {c['companies']}"),
        ("ipes.cold_downloads", c["downloads_ok"] == cold_queued == len(cold["files"])
         and cold["files"] <= cold["eligible"],
         f"ok={c['downloads_ok']} queued={cold_queued} files={len(cold['files'])}"),
        ("ipes.rerun_csv", (now["n_companies"], now["n_filings"]) == (r["companies"], r["filings"]),
         f"csv={now['n_companies']},{now['n_filings']} stats={r['companies']},{r['filings']}"),
        ("ipes.rerun_enriched", enriched == r["enriched"] == r["companies"],
         f"parquet={enriched} enriched={r['enriched']} companies={r['companies']}"),
        ("ipes.rerun_cache_hits", r["cache_hits"] == carried > 0,
         f"hits={r['cache_hits']} carried-over companies={carried}"),
        ("ipes.rerun_keeps_downloads", cold["files"] <= now["files"],
         f"{len(cold['files'] - now['files'])} cold-run files lost"),
        ("ipes.rerun_downloads_only_new", len(new) == r["downloads_ok"] == rerun_queued
         and new <= now["eligible"],
         f"new files={len(new)} ok={r['downloads_ok']} expected={rerun_queued}"),
        ("ipes.download_types", not bad_magic, f"{len(bad_magic)} files typed wrongly"),
        ("ipes.downloads_failed", c["downloads_failed"] + r["downloads_failed"] == 0, ""),
        ("ipes.history", [list(h) for h in history] == [[s[k] for k in keys] for s in (c, r)],
         f"history rows {history}"),
    ]


# ----------------------------------------------------------- dashboard

def _dashboard_sql(r):
    where = f"o_orderdate >= TIMESTAMP '{r['from']}' AND o_orderdate < TIMESTAMP '{r['to']}'"
    rev = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    kind = r["kind"]
    if kind == "segmentSummary":
        return f"""SELECT c_mktsegment, count(*) AS order_cnt, {rev} AS revenue,
            count(DISTINCT o_custkey) AS n_customers
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE {where} GROUP BY c_mktsegment"""
    if kind == "monthlyTrend":
        return f"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
            count(*) AS n_orders, {rev} AS revenue
            FROM orders WHERE {where} GROUP BY 1"""
    if kind == "topK":
        key = r["key"]
        return f"""SELECT {key}, count(*) AS cnt FROM orders WHERE {where}
            GROUP BY {key} ORDER BY cnt DESC, {key} ASC LIMIT {int(r['k'])}"""
    if kind == "headlineMetrics":
        return f"""SELECT count(*) AS total_orders,
            count(DISTINCT o_custkey) AS distinct_customers,
            CAST(max(o_orderdate) AS DATE) AS latest_order_date,
            (SELECT o_orderpriority FROM orders WHERE {where}
             GROUP BY o_orderpriority ORDER BY count(*) DESC, o_orderpriority ASC
             LIMIT 1) AS top_priority
            FROM orders WHERE {where}"""
    if kind == "starJoin":
        return f"""SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE {where} AND c_mktsegment = '{r['segment']}'"""
    raise ValueError(kind)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, int) and not isinstance(v, bool):
        return repr(v)
    return str(v)


def check_dashboard(facts, input_dir):
    con = _connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    bad, n = [], 0
    with open(facts["results"]) as f:
        for line in f:
            r = json.loads(line)
            n += 1
            got = sorted(tuple(_norm(v) for v in row) for row in r["rows"])
            want = sorted(tuple(_norm(float(v) if isinstance(v, float) else v) for v in row)
                          for row in _rows(con, _dashboard_sql(r)))
            if got != want:
                bad.append(r["id"])
    ok = not bad and n == facts["distinct_requests"] and n > 0
    return [("dashboard.duckdb", ok,
             f"{n} distinct requests checked, {len(bad)} differ: {bad[:3]}")], set(bad)


# -------------------------------------------------------------- corpus

_STOPWORDS = [  # graft.text.TextAnalysis.LangStopwords, in tie-break order
    ("en", {"the", "and", "of", "to", "a", "in", "is", "that", "for", "with"}),
    ("es", {"el", "la", "de", "que", "y", "en", "un", "por", "con", "los"}),
    ("fr", {"le", "la", "de", "et", "les", "des", "en", "un", "du", "que"}),
    ("de", {"der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"}),
    ("zh", {"的", "是", "在", "了", "和", "有", "我", "不", "这", "他"}),
]


def _tokens(text):
    """split(lower(trim(text)), '\\s+') with Java split semantics."""
    toks = re.split(r"\s+", text.strip(" ").lower())
    while len(toks) > 1 and toks[-1] == "":
        toks.pop()
    return toks


def _round6(x):
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def gate(text, toks):
    """prepareCorpus' gate: quality >= 0.5 and language 'en' (the
    corpus_prep twin's predicate, evaluated per document in Python)."""
    uniq = set(toks)
    hits = [(lang, len(uniq & words)) for lang, words in _STOPWORDS]
    lang = next((lg for lg, h in hits if h > 0 and all(h >= o for _, o in hits)), "und")
    ntok, nchars = float(len(toks)), float(len(text))
    alpha = float(sum(1 for ch in text if ("a" <= ch <= "z") or ("A" <= ch <= "Z")))
    wl = 1.0 if 3.0 <= nchars / max(ntok, 1.0) <= 10.0 else 0.3
    q = _round6(min(ntok / 100.0, 1.0) * 0.3 + wl * 0.2 + alpha / max(nchars, 1.0) * 0.3 +
                min(hits[0][1] / 3.0, 1.0) * 0.2)
    return q >= 0.5 and lang == "en"


def expected_survivors(docs, pairs, threshold=0.6):
    """prepareCorpus' survivors from first principles: gate, keep the
    minimum id per token fingerprint, then the minimum id of every
    connected component of the pairs with Jaccard >= threshold."""
    import hashlib
    keep = {}
    for doc_id, text in docs:
        toks = _tokens(text)
        if gate(text, toks):
            fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
            keep[fp] = min(keep.get(fp, doc_id), doc_id)
    ids = set(keep.values())
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, j in pairs:
        if j >= threshold and a in ids and b in ids:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def _compare(con, out_dir, name, sql):
    con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    scols = [d[0] for d in con.description]
    srows = con.fetchall()
    con.execute(sql)
    ocols = [d[0] for d in con.description]
    orows = con.fetchall()
    si = [scols.index(c) for c in sorted(scols)]
    oi = [ocols.index(c) for c in sorted(ocols)]
    same = sorted(scols) == sorted(ocols) and \
        canon([[r[i] for i in si] for r in srows]) == canon([[r[i] for i in oi] for r in orows])
    return (f"corpus.{name}", same and len(srows) > 0,
            f"spark={len(srows)} rows, duckdb={len(orows)} rows")


def check_corpus(facts, input_dir):
    """The timed job's prefix pairs against their full DuckDB twin; its
    corpus_prep survivors against a replay over those (verified) pairs;
    semDedup through the registered hash-slice query and its twin."""
    con = _connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    with open(facts["oracle_sql"]) as f:
        oracle = json.load(f)
    out = facts["out_dir"]
    res = []
    for name, sql in sorted(oracle.items()):
        try:
            res.append(_compare(con, out, name, sql))
        except Exception as e:  # a twin that cannot run is a failed check
            res.append((f"corpus.{name}", False, f"{type(e).__name__}: {e}"[:300]))
    docs = _rows(con, """SELECT doc_id, text FROM documents UNION ALL
        SELECT doc_id + 100000, text || ' zz9 yy8 xx7' FROM documents WHERE doc_id % 7 = 0""")
    pairs = _rows(con, f"""SELECT id_a, id_b, jaccard
        FROM read_parquet('{out}/dedup_ngram_jaccard_prefix/*.parquet')""")
    got = {r[0] for r in _rows(con, f"SELECT doc_id FROM read_parquet('{out}/corpus_prep/*.parquet')")}
    want = expected_survivors(docs, pairs)
    res.append(("corpus.corpus_prep", got == want and len(got) > 0,
                f"spark={len(got)} survivors, replay={len(want)}, "
                f"{len(got ^ want)} differ"))
    return res
