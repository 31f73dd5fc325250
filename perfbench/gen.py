"""Seeded input generators for the flow benchmark.

Every generator takes a `random.Random`/numpy seed derived from the
benchmark's --seed. Sizes and mixes are FIXED (seed-independent), so the
exact counters the program reports (rows loaded, deduped, rejected, ...)
repeat across seeds and only the content changes. Each dimension records
why it was chosen, next to the constant that sets it.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ───────────────────────── bronze envelopes ─────────────────────────

# Bronze envelopes per run: a 40k-row reload (about 31k silver rows)
# plus 2k rows of uploads. A warm reload then costs about 7.5 s on 4
# cores, about 60% of it row-proportional; a 100k-row reload (77k
# silver rows, 13-15 s a load) does not fit three set-up reloads and
# the checks into the run budget (README.md, "Input size").
BRONZE_ROWS = 42000

# source_spider mix: all 8 Normalize dispatch kinds (ticketmaster,
# seatgeek, yelp, google_places, arcgis, generic, document, ai_text).
# Weights follow the reference's spider volume ordering; the generic
# kind carries its own `source` so each generic site's date format and
# display name are exercised.
SPIDERS = [
    # (source_spider, payload source, weight)
    ("ticketmaster", None, 18),
    ("seatgeek", None, 12),
    ("yelp", None, 9),
    ("google_places", None, 9),
    ("nashville_arcgis", None, 7),
    ("generic", "nashville.com-events", 9),
    ("generic", "nashville.com-hotels", 4),
    ("generic", "underdog", 8),
    ("generic", "playplayground-events", 4),
    ("document_upload_csv", None, 12),
    # routes to the (stubbed) AI extractor: contributes no silver rows,
    # so it measures pure wasted normalize work
    ("manual_upload_pdf", None, 8),
]
STRICT = {"ticketmaster", "seatgeek", "nashville_arcgis"}
# sources whose upstream category survives (Categorize.trustedSources)
UPSTREAM_CATEGORY = {
    "ticketmaster": ["Music", "Sports", "Arts & Theatre", "Family"],
    "seatgeek": ["concert", "sports", "theater", "comedy"],
    "google_places": ["restaurant", "bar", "museum", "park"],
    "nashville_arcgis": ["park", "library", "fire_station", "art_culture"],
}

# Shares of the bronze stream, each a fixed count per run.
MALFORMED_SHARE = 0.01   # truncated JSON -> Normalize.quarantine
INVALID_NAME_SHARE = 0.02  # "N/A", "unknown", ... -> dropped
NO_VENUE_SHARE = 0.03    # strict sources without venue -> dropped
NO_URL_SHARE = 0.01      # lenient rows without url -> dropped at load
URL_DUP_SHARE = 0.08     # repeat an earlier valid url -> deduped

# Category keywords: names carry one with these odds so the derived
# category spreads (with no keywords 90% of rows fall to "music").
CATEGORY_WORDS = [("festival", 0.12), ("comedy", 0.10), ("theater", 0.10),
                  ("game", 0.10)]
GENRE_WORDS = ["rock", "country", "jazz", "pop", "techno", "symphony",
               "indie", "soul", "bluegrass"]
STOPWORDS = {"the", "a", "an", "of", "to", "and", "in", "is", "on", "for"}
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]

# Search vocabulary: Zipf-ranked pseudo-words. The dashboard sessions
# draw terms from the common, mid and rare bands, so a term matches
# thousands, tens or a handful of rows.
VOCAB_SIZE = 1500
ZIPF_A = 1.15


def vocabulary(rng):
    syll = ["ka", "lo", "mi", "ren", "sa", "to", "vel", "dor", "bi", "nu",
            "ra", "po", "zen", "qui", "mar", "te", "lu", "fo", "gan", "shi"]
    words, seen = [], set(STOPWORDS)
    seen.update(w for w, _ in CATEGORY_WORDS)
    seen.update(GENRE_WORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(syll) for _ in range(rng.choice((2, 3, 3, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cum(n):
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** ZIPF_A
        out.append(acc)
    return out


def _fmt_date(rng, kind):
    m, d = rng.randrange(12), rng.randrange(1, 29)
    h, mi = rng.randrange(12, 23), rng.choice((0, 15, 30, 45))
    if kind == "ticketmaster":
        return f"2025-{m + 1:02d}-{d:02d} {h:02d}:{mi:02d}:00"
    if kind == "seatgeek":
        return f"2025-{m + 1:02d}-{d:02d}T{h:02d}:{mi:02d}:00"
    h12 = h - 12 if h > 12 else h
    if kind == "nashville.com-events":
        return f"{MONTHS[m]} {d} @ {h12}:{mi:02d} pm"
    if kind == "underdog":
        return f"{MONTHS[m]} {d}, 2025 | {h12}:{mi:02d}PM " + rng.choice(
            ("CDT", "CST"))
    if kind in ("playplayground-events", "document_upload_csv"):
        return f"2025-{m + 1:02d}-{d:02d}"
    return None


def bronze(seed, n=BRONZE_ROWS):
    """Returns (envelopes, status, vocab): envelopes are dicts with
    id/source_spider/raw_json in id order; status[i] is what a correct
    ETL does with envelope i (loaded, rejected_parse, dropped_invalid or
    deduped). A duplicate always repeats an EARLIER url, so the status of
    a row does not depend on later rows and any id prefix has exact
    expectations (see expected())."""
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary(random.Random(seed * 7919 + 2))
    zw = _zipf_cum(len(vocab))
    venues = [" ".join(rng.choices(vocab[:400], k=2)).title() + " " +
              rng.choice(("Hall", "Theater", "Park", "Arena", "Room", "Club"))
              for _ in range(80)]
    # Every count below is exact per segment (the reload prefix and the
    # upload tail), so the counters a run reports repeat across seeds.
    segments = [(0, min(n, RELOAD_ROWS))] + (
        [(RELOAD_ROWS, n)] if n > RELOAD_ROWS else [])
    weights = [w for _, _, w in SPIDERS]
    tot = sum(weights)
    kinds = []
    for lo, hi in segments:
        m = hi - lo
        counts = [m * w // tot for w in weights]
        for i in sorted(range(len(counts)),
                        key=lambda i: -(m * weights[i] % tot))[:m - sum(counts)]:
            counts[i] += 1
        seg = [i for i, c in enumerate(counts) for _ in range(c)]
        rng.shuffle(seg)
        kinds += seg
    ai, malformed, invalid, no_venue, no_url, valid = (
        set(), set(), set(), set(), set(), [])
    dup_of = {}
    for lo, hi in segments:
        m = hi - lo
        idx = range(lo, hi)
        seg_ai = {i for i in idx if SPIDERS[kinds[i]][0] == "manual_upload_pdf"}
        eligible = [i for i in idx if i not in seg_ai]
        rng.shuffle(eligible)
        k_mal, k_inv = int(m * MALFORMED_SHARE), int(m * INVALID_NAME_SHARE)
        rest = eligible[k_mal + k_inv:]
        strict = [i for i in rest if SPIDERS[kinds[i]][0] in STRICT]
        lenient = [i for i in rest if SPIDERS[kinds[i]][0] not in STRICT]
        seg_nv = set(strict[:int(m * NO_VENUE_SHARE)])
        seg_nu = set(lenient[:int(m * NO_URL_SHARE)])
        seg_valid = sorted(set(rest) - seg_nv - seg_nu)
        ai |= seg_ai
        malformed |= set(eligible[:k_mal])
        invalid |= set(eligible[k_mal:k_mal + k_inv])
        no_venue |= seg_nv
        no_url |= seg_nu
        # duplicates repeat the url of an EARLIER valid row, so
        # first-wins by envelope id keeps the original
        valid += seg_valid
        cands = seg_valid[len(seg_valid) // 10:] if lo == 0 else seg_valid
        rng.shuffle(cands)
        pos = {v: k for k, v in enumerate(valid)}
        for i in sorted(cands[:int(m * URL_DUP_SHARE)]):
            p = pos[i]
            pool = [v for v in valid[max(0, p - 500):p] if v not in dup_of]
            dup_of[i] = rng.choice(pool)
    urls = {}
    out = []
    for i in range(n):
        spider, gsrc, _ = SPIDERS[kinds[i]]
        if i in ai:
            text = " ".join(rng.choices(vocab, cum_weights=zw, k=40))
            payload = {"text": text,
                       "original_filepath": f"/app/uploads/doc{i}.pdf"}
        else:
            words = rng.choices(vocab, cum_weights=zw, k=rng.randint(2, 4))
            r = rng.random()
            for kw, p in CATEGORY_WORDS:
                if r < p:
                    words.append(kw)
                    break
                r -= p
            if rng.random() < 0.3:
                words.append(rng.choice(GENRE_WORDS))
            rng.shuffle(words)
            name = " ".join(words)
            if i in invalid:
                name = rng.choice(("N/A", "unknown", "  ", "null", "x"))
            root = dup_of.get(i)
            url = urls[root] if root is not None else \
                f"https://{spider.replace('_', '-')}.example/e/{seed}-{i}"
            urls[i] = url
            payload = {"name": name, "url": url,
                       "description": " ".join(
                           rng.choices(vocab, cum_weights=zw, k=rng.randint(5, 14)))}
            if gsrc:
                payload["source"] = gsrc
            date = _fmt_date(rng, gsrc or spider)
            if date:
                payload["event_date"] = date
            if i not in no_venue and (spider in STRICT or rng.random() < 0.7):
                payload["venue_name"] = rng.choice(venues)
                payload["venue_address"] = (f"{rng.randint(1, 9999)} "
                                            f"{rng.choice(vocab[:300]).title()} St")
            if spider in UPSTREAM_CATEGORY and rng.random() < 0.85:
                payload["category"] = rng.choice(UPSTREAM_CATEGORY[spider])
            if rng.random() < 0.8:
                lat = round(rng.uniform(35.9, 36.4), 5)
                lng = round(rng.uniform(-87.0, -86.5), 5)
                # some spiders emit coordinates as strings
                if spider in ("yelp", "generic"):
                    lat, lng = str(lat), str(lng)
                payload["latitude"], payload["longitude"] = lat, lng
            if i in no_url:
                del payload["url"]
        raw = json.dumps(payload)
        if i in malformed:
            raw = raw[:len(raw) // 2]
        out.append({"id": i + 1, "source_spider": spider, "raw_json": raw})
    status = ["loaded"] * n
    for i in malformed:
        status[i] = "rejected_parse"
    for i in ai | invalid | no_venue | no_url:
        status[i] = "dropped_invalid"
    for i in dup_of:
        status[i] = "deduped"
    return out, status, vocab


def expected(status):
    """The run counters a correct ETL reports for these envelopes."""
    e = {"rows_in": len(status)}
    for k in ("rejected_parse", "dropped_invalid", "deduped", "loaded"):
        e["rows_" + k] = status.count(k)
    return e


def loaded_rows(envelopes, status):
    """(url, name) of every envelope a correct ETL loads, in id order,
    with the name as silver shows it (whitespace collapsed, title-cased
    like Python's str.title, which Standardize.pyTitle reproduces)."""
    out = []
    for e, st in zip(envelopes, status):
        if st == "loaded":
            p = json.loads(e["raw_json"])
            out.append((p["url"], " ".join(p["name"].split()).title()))
    return out


def write_bronze_jsonl(envelopes, path):
    with open(path, "w") as f:
        for e in envelopes:
            f.write(json.dumps(e) + "\n")


def write_bronze_parquet(envelopes, path):
    t = pa.table({
        "id": pa.array([e["id"] for e in envelopes], pa.int64()),
        "source_spider": pa.array([e["source_spider"] for e in envelopes]),
        "raw_json": pa.array([e["raw_json"] for e in envelopes]),
    })
    pq.write_table(t, path)


# ───────────────────────── upload file splitter ─────────────────────────

# The first RELOAD_ROWS envelopes are the scheduled truncate-and-reload
# that builds silver; the rest arrive as UPLOAD_FILES small uploads, one
# at a time, on top of it. Small files make the per-trigger fixed cost
# (planning, checkpoint, 7-branch rescans) the dominant term, which is
# what the reference's one-document-per-upload stream pays.
RELOAD_ROWS = 40000
UPLOAD_FILES = 20
# Pages served from each fresh read of silver after a file lands.
PAGES_PER_FILE = 4


def split_uploads(envelopes):
    """Contiguous id ranges, one JSONL per file, landed in id order, so
    the stream's first-landed-wins equals batch first-by-id-wins."""
    per = -(-len(envelopes) // UPLOAD_FILES)
    return [envelopes[k:k + per] for k in range(0, len(envelopes), per)]


# ───────────────────────── dashboard sessions ─────────────────────────

# Request mix (app.py's filter form), served in blocks of
# PAGES_PER_FILE requests, one block per upload. Every block holds the
# same four request shapes, so every run serves the same mix: a source
# filter on half the requests, a category filter on a quarter, 0-2
# search terms, pages 1-3, and a deep page (offset >= 1000) on
# unfiltered browsing. The seed orders each block and draws the values:
# the source, the category, and each term from the common, mid or rare
# vocabulary band. With a mix drawn request by request instead, the 12
# pages of a run differed enough between seeds to spread the read-side
# CPU by 26%.
SOURCES = ["Ticketmaster", "SeatGeek", "Yelp", "Google Places",
           "Nashville ArcGIS", "nashville.com-events", "underdog",
           "Document Upload Csv"]
CATEGORIES = ["music", "festival", "comedy", "theater", "sports", "Music",
              "park"]
SHAPES = [
    # (source filter, category filter, search terms, page)
    (True, False, 1, "first"),
    (True, False, 0, "next"),
    (False, True, 2, "first"),
    (False, False, 0, "deep"),
]


def sessions(seed, vocab, blocks):
    rng = random.Random(seed * 7919 + 3)
    common, mid, rare = vocab[:15], vocab[60:250], vocab[600:1400]
    reqs = []
    for _ in range(blocks):
        block = list(SHAPES)
        rng.shuffle(block)
        for src, cat, nt, page in block:
            reqs.append({
                "source": rng.choice(SOURCES) if src else None,
                "category": rng.choice(CATEGORIES) if cat else None,
                "terms": [rng.choice(rng.choices((common, mid, rare),
                                                 (0.5, 0.35, 0.15))[0])
                          for _ in range(nt)],
                "page": 1 if page == "first" else rng.randint(2, 3)
                if page == "next" else rng.randint(41, 120)})
    return reqs


# ───────────────────────── registry tables ─────────────────────────

# Registry slice input: the sf-table schemas (FIXTURES.md §5) at
# about sf0.01, where per-query fixed costs dominate as they do for
# most of the registry. 300 documents keep the quadratic shingle-pair
# oracle (q75) near a second in DuckDB.
REG_ROWS = {"orders": 15000, "lineitem": 60000, "documents": 300}
DOC_WORDS = ["agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "value", "vector",
             "window", "a", "the"]


# Priming tables: the same schemas at a tenth of the rows (about
# sf0.001, as the registry's own benchmark warms up), so the priming pass
# pays codegen and JIT at little scan cost.
WARM_SCALE = 0.1


def registry_tables(seed, out_dir, scale=1.0):
    rs = np.random.default_rng(seed * 7919 + 4)
    n = {k: int(v * scale) for k, v in REG_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    no = n["orders"]
    base = np.datetime64("1995-01-01", "us")
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rs.integers(0, max(2, no // 10), no)),
        "o_orderstatus": pa.array(rs.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rs.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(base + rs.integers(0, 2400, no).astype(
            "timedelta64[D]").astype("timedelta64[us]")),
        "o_orderpriority": pa.array(rs.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no)),
    })
    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rs.integers(0, no, nl)),
        "l_partkey": pa.array(rs.integers(0, max(2, nl // 30), nl)),
        "l_suppkey": pa.array(rs.integers(0, max(2, nl // 600), nl)),
        "l_linenumber": pa.array(rs.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rs.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rs.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rs.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rs.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rs.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rs.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(base + rs.integers(0, 2500, nl).astype(
            "timedelta64[D]").astype("timedelta64[us]")),
    })
    nd = n["documents"]
    texts = []
    for d in range(nd):
        # one document in eight is a near-duplicate of an earlier one (a
        # few words replaced), so the dedup/similarity operators find
        # pairs above their thresholds
        if d >= 8 and rs.random() < 0.125:
            src = texts[int(rs.integers(0, d))].split(" ")
            for _ in range(max(1, len(src) // 25)):
                src[int(rs.integers(0, len(src)))] = str(rs.choice(DOC_WORDS))
            texts.append(" ".join(src))
        else:
            k = int(rs.integers(8, 90))
            texts.append(" ".join(rs.choice(DOC_WORDS, k)))
    write("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rs.choice(["en", "de", "fr", "es", "it"], nd)),
        "source": pa.array([f"src{k}" for k in rs.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
