"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files, a different seed different ones. The engine only
ever sees the files written here.

Sizes are fixed per workload (SIZES) so that every seed carries the same
amount of work; BENCHMARK.json and README.md state them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # bronze filing rows of the cold run, rows in the incremental batch,
    # base companies (each spawns several raw-name variants), and the
    # per-run download cap (docLimit)
    "ipes": {"bronze_rows": 3000, "batch_rows": 300, "companies": 800,
             "new_companies": 60, "doc_limit": 1000},
    # sf0.1 shape: 150k orders over 15k customers; the request list is
    # longer than any run can consume, and the loop wraps if it must
    "dashboard": {"orders": 150000, "customers": 15000, "requests": 4000},
    # documents before the planted near-dup copies, and vectors before
    # the planted perturbed copies
    "corpus": {"docs": 4000, "vectors": 1600, "dim": 64},
}

WORKLOAD_INPUTS = {
    "ipes_pipeline": "ipes",
    "dashboard_queries": "dashboard",
    "corpus_curation": "corpus",
}


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _words(rng, n, lo=3, hi=9):
    """`n` distinct pronounceable lowercase words."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join((cons if i % 2 == 0 else vows)[int(rng.integers(0, 18 if i % 2 == 0 else 5))]
                    for i in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_table(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=64 * 1024)


# ---------------------------------------------------------------- IPES

_LEGAL = ["LLC", "Inc.", "Corp.", "Corporation", "L.L.C.", "Co.", "Inc", "LP"]
_INDUSTRY = ["communications", "networks", "telecom", "voice", "solutions",
             "services", "systems", "technologies", "wireless", "cloud",
             "carrier", "connect", "broadband", "digital", "telephone"]
_SUBMISSION = ["APPLICATION", "REQUEST FOR AUTHORIZATION", "PETITION",
               "APPLICATION FOR TRANSFER", "COMMENT", "LETTER", "NOTICE"]
_DESCR = ["VoIP numbering authorization under 52.15(g)",
          "Application for direct access to numbering resources (VoIP)",
          "Section 52.15 interconnected voip request",
          "Rural broadband deployment comments",
          "Spectrum auction procedures"]
_STATUS = ["ACCEPTED", "PENDING", "GRANTED", "DISMISSED"]


def _company_variants(rng, base):
    """Raw-name spellings of one company: legal-suffix, case, plural and
    one-letter-typo variants. Suffix/case variants normalize together;
    plural and typo variants only merge through the fuzzy dedup."""
    out = [f"{base} {_LEGAL[int(rng.integers(0, len(_LEGAL)))]}"]
    out.append(f"{base.upper()}, {_LEGAL[int(rng.integers(0, len(_LEGAL)))]}")
    toks = base.split(" ")
    if toks[-1].endswith("s"):
        out.append(" ".join(toks[:-1] + [toks[-1][:-1]]) + " LLC")
    else:
        out.append(" ".join(toks[:-1] + [toks[-1] + "s"]) + " Inc.")
    if len(base) > 24:
        i = int(rng.integers(len(toks[0]) + 1, len(base) - 1))
        c = "x" if base[i] != "x" else "y"
        if base[i] != " ":
            out.append(base[:i] + c + base[i + 1:] + " Corp.")
    if rng.random() < 0.3:
        out.append(f"{base} LLC d/b/a {toks[0].title()} Voice")
    return out


def _ipes_companies(rng, n, first, middle):
    names = set()
    out = []
    while len(out) < n:
        parts = [first[int(rng.integers(0, len(first)))]]
        for _ in range(int(rng.integers(1, 3))):
            parts.append(middle[int(rng.integers(0, len(middle)))])
        parts.append(_INDUSTRY[int(rng.integers(0, len(_INDUSTRY)))])
        base = " ".join(p.title() for p in parts)
        if base not in names:
            names.add(base)
            out.append(base)
    return out


def _ipes_rows(rng, n, variants, id_prefix):
    people = ["John Smith", "Mary Jones", "Ann Lee"]
    blocked = ["Wireline Competition Bureau", "FCC",
               "Department of Justice"]
    rows = []
    for j in range(n):
        sid = f"{id_prefix}{j:07d}"
        r = rng.random()
        if r < 0.04:
            name = people[int(rng.integers(0, len(people)))]
        elif r < 0.07:
            name = blocked[int(rng.integers(0, len(blocked)))]
        else:
            vs = variants[int(rng.integers(0, len(variants)))]
            name = vs[int(rng.integers(0, len(vs)))]
        relevant = rng.random() < 0.85
        descr = _DESCR[int(rng.integers(0, 3))] if relevant else _DESCR[int(rng.integers(3, 5))]
        docket = "INBOX-52.15" if relevant and rng.random() < 0.5 else \
            f"WC {int(rng.integers(10, 25))}-{int(rng.integers(1, 400))}"
        day = int(rng.integers(0, 6 * 365))
        date = str(np.datetime64("2019-01-01") + np.timedelta64(day, "D"))
        n_urls = int(rng.choice([0, 1, 1, 2], p=[0.9, 0.06, 0.02, 0.02]))
        urls = "; ".join(f"https://ecfs.example.invalid/document/{sid}{k}"
                         for k in range(n_urls))
        rows.append({
            "submission_id": sid,
            "company_name": name,
            "date_received": date,
            "submission_type": _SUBMISSION[int(rng.integers(0, len(_SUBMISSION)))],
            "docket_number": docket,
            "proceeding_description": descr,
            "bureau": "Wireline Competition Bureau",
            "filing_status": _STATUS[int(rng.integers(0, len(_STATUS)))],
            "contact_attorney": people[int(rng.integers(0, len(people)))],
            "law_firm": "Example & Partners LLP",
            "document_urls": urls,
            "detail_url": f"https://ecfs.example.invalid/filing/{sid}",
        })
    return rows


def _write_jsonl(rows, path, corrupt=()):
    with open(path, "w", encoding="utf-8") as f:
        for i, r in enumerate(rows):
            f.write(json.dumps(r, sort_keys=True) + "\n")
            if i in corrupt:
                f.write('{"submission_id": "broken", "company_name": \n')


def gen_ipes(seed, out):
    s = SIZES["ipes"]
    rng = _rng(seed, 1)
    vocab = _words(rng, 400)
    # few first words and industry words: names co-block on both keys,
    # so the blocked candidate join has real work
    first, middle = vocab[:60], vocab[60:]
    bases = _ipes_companies(rng, s["companies"] + s["new_companies"], first, middle)
    old = [_company_variants(rng, b) for b in bases[:s["companies"]]]
    new = [_company_variants(rng, b) for b in bases[s["companies"]:]]
    cold = _ipes_rows(rng, s["bronze_rows"], old, "S")
    # the batch: new filings of known companies plus filings of new ones
    batch = _ipes_rows(rng, s["batch_rows"] // 2, old, "B") + \
        _ipes_rows(rng, s["batch_rows"] - s["batch_rows"] // 2, new, "N")
    os.makedirs(f"{out}/bronze_cold", exist_ok=True)
    os.makedirs(f"{out}/bronze_incremental", exist_ok=True)
    corrupt = {int(i) for i in rng.integers(0, len(cold), 5)}
    _write_jsonl(cold, f"{out}/bronze_cold/part-0.jsonl", corrupt)
    _write_jsonl(cold, f"{out}/bronze_incremental/part-0.jsonl", corrupt)
    _write_jsonl(batch, f"{out}/bronze_incremental/part-1.jsonl")
    with open(f"{out}/ipes.json", "w") as f:
        json.dump({"doc_limit": s["doc_limit"]}, f)


# ----------------------------------------------------------- dashboard

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_KINDS = ["segmentSummary", "monthlyTrend", "topK", "headlineMetrics", "starJoin"]
_TOPK_KEYS = ["o_custkey", "o_orderpriority", "o_orderstatus"]
_DAY0 = np.datetime64("1992-01-01")
_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range


def gen_dashboard(seed, out):
    s = SIZES["dashboard"]
    rng = _rng(seed, 2)
    nc, no = s["customers"], s["orders"]
    ck = np.arange(1, nc + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    # TPC-H leaves every third customer without orders
    with_orders = ck[ck % 3 != 0]
    days = rng.integers(0, _DAYS, no)
    orders = pa.table({
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64) * 4,
        "o_custkey": with_orders[rng.integers(0, len(with_orders), no)],
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, no, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(850.0, 550000.0, no), 2),
        "o_orderdate": pa.array((_DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    _write_table(customer, f"{out}/customer.parquet")
    _write_table(orders, f"{out}/orders.parquet")
    # closed-loop request list: the kinds rotate in a fixed order, so
    # every run issues the same mix; every other round of five repeats
    # the parameters of an earlier request of the same kind
    reqs = []
    for i in range(s["requests"]):
        kind = _KINDS[i % len(_KINDS)]
        if (i // len(_KINDS)) % 2 == 1:
            reqs.append(dict(reqs[len(_KINDS) * int(rng.integers(0, i // len(_KINDS)))
                                  + i % len(_KINDS)]))
            continue
        d0 = int(rng.integers(0, _DAYS - 30))
        d1 = min(_DAYS, d0 + int(rng.integers(30, 900)))
        reqs.append({
            "kind": kind,
            "from": str(_DAY0 + np.timedelta64(d0, "D")),
            "to": str(_DAY0 + np.timedelta64(d1, "D")),
            "segment": _SEGMENTS[int(rng.integers(0, 5))],
            "k": int(rng.choice([5, 10, 20, 50])),
            "key": _TOPK_KEYS[int(rng.integers(0, len(_TOPK_KEYS)))],
        })
    with open(f"{out}/requests.jsonl", "w") as f:
        for r in reqs:
            f.write(json.dumps(r, sort_keys=True) + "\n")


# -------------------------------------------------------------- corpus

_STOP = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"],
}


def _doc(rng, vocab, cum, lang, n):
    stop = _STOP[lang]
    is_stop = rng.random(n) < 0.3
    sw = rng.integers(0, len(stop), n)
    vw = np.searchsorted(cum, rng.random(n), side="right")
    return [stop[sw[i]] if is_stop[i] else vocab[min(vw[i], len(vocab) - 1)]
            for i in range(n)]


def gen_corpus(seed, out):
    s = SIZES["corpus"]
    rng = _rng(seed, 3)
    vocab = _words(rng, 3000)
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    cum = np.cumsum(w / w.sum())
    n = s["docs"]
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.04:
            # exact duplicate up to case and whitespace
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "  ") + " ")
            langs.append(langs[-1] if langs else "en")
            continue
        if i > 50 and r < 0.09:
            # near duplicate: a few tokens substituted
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(toks) // int(rng.integers(12, 40)))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            langs.append("en")
            continue
        lang = "en" if r < 0.85 else ["es", "fr", "de"][int(rng.integers(0, 3))]
        length = int(rng.integers(6, 14)) if rng.random() < 0.05 else int(rng.integers(40, 140))
        texts.append(" ".join(_doc(rng, vocab, cum, lang, length)))
        langs.append(lang)
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write_table(docs, f"{out}/documents.parquet")
    nv, dim = s["vectors"], s["dim"]
    centers = rng.normal(0.0, 1.0, (64, dim))
    labels = rng.integers(0, 64, nv)
    vecs = (centers[labels] + rng.normal(0.0, 0.35, (nv, dim))).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    _write_table(emb, f"{out}/embeddings.parquet")


GENERATORS = {"ipes": gen_ipes, "dashboard": gen_dashboard, "corpus": gen_corpus}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the directory `out`."""
    os.makedirs(out, exist_ok=True)
    GENERATORS[WORKLOAD_INPUTS[workload]](seed, out)


def digest(path):
    """sha256 over every file under `path`, in sorted relative-path order."""
    import hashlib
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
