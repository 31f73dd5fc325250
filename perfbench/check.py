"""Output checks of the flow benchmark, run after the measured window.

Every check is independent of the engine: DuckDB recomputes dashboard
pages and registry results from the same parquet, and the ETL counters
are compared with the generator's ground truth. check() returns
{"ok", "checks": [str], "wrong_ops": n}.
"""
import glob
import os

import duckdb
import pandas as pd

import metrics

PER_PAGE = 25


class Verdict:
    def __init__(self):
        self.ok, self.lines, self.wrong = True, [], 0

    def expect(self, cond, what, ops=0):
        if not cond:
            self.ok = False
            self.wrong += ops
        self.lines.append(("PASS " if cond else "FAIL ") + what)
        return cond

    def out(self):
        return {"ok": self.ok, "checks": self.lines, "wrong_ops": self.wrong}


def _q(s):
    return "'" + s.replace("'", "''") + "'"


def _parquet(path):
    return f"read_parquet({_q(os.path.join(path, '*.parquet'))})"


# ───────────────────────── dashboard pages ─────────────────────────

def _page_ok(con, view, op):
    """A page is right when its total matches, every row is a filtered
    row with the same content, and its sort keys equal the reference
    keys at those positions (rows that tie on the key compare as sets)."""
    r, info = op["info"]["req"], op["info"]
    where = ["TRUE"]
    if r["source"] is not None:
        where.append(f"source = {_q(r['source'])}")
    if r["category"] is not None:
        where.append(f"category = {_q(r['category'])}")
    for t in r["terms"]:
        where.append(f"list_contains(search_tokens, {_q(t)})")
    score = " + ".join(
        f"len(list_filter(search_tokens, x -> x = {_q(t)}))"
        for t in r["terms"]) or "0"
    rows = con.execute(
        f"SELECT url, name, event_date, source, category, ({score})::DOUBLE "
        f"FROM {view} WHERE {' AND '.join(where)}").fetchall()

    def key(row):
        d = (0, "") if row[2] is None else (1, row[2])
        return (-row[5], d, row[1]) if r["terms"] else (d, row[1], row[0])
    rows.sort(key=key)
    by_url = {row[0]: row for row in rows}
    if info["total"] != len(rows):
        return False
    off = (max(r["page"], 1) - 1) * PER_PAGE
    exp_keys = [key(row) for row in rows[off:off + PER_PAGE]]
    got = info["rows"]
    if len(got) != len(exp_keys):
        return False
    for g, k in zip(got, exp_keys):
        ref = by_url.get(g[0])
        if ref is None or tuple(ref[:5]) != tuple(g) or key(ref) != k:
            return False
    return len({g[0] for g in got}) == len(got)


def check_pages(v, pages, view_for):
    con = duckdb.connect()
    bad = 0
    views = {}
    for op in pages:
        src = view_for(op)
        if src not in views:
            name = f"silver{len(views)}"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
            views[src] = name
        if not _page_ok(con, views[src], op):
            bad += 1
    v.expect(bad == 0, f"dashboard pages vs DuckDB: {len(pages) - bad}/"
             f"{len(pages)} match", ops=bad)


# ───────────────────────── ETL and upload invariants ─────────────────────────

def check_upload(v, res, truth, ops):
    spans = res["spans"]
    reload = truth["reload"]
    setups = [s for s in spans if s["name"] == "setup"]
    bad = sum(1 for s in setups if s["info"].get("loaded")
              != reload["rows_loaded"])
    v.expect(bad == 0, f"every reload loads {reload['rows_loaded']} rows")
    probes = [s for s in spans if s["parent"] == -1
              and s["name"] == "etl.probe" and s["ok"]]
    if v.expect(bool(probes), "run counters collected"):
        got = metrics.etl_counters(probes[-1]["info"],
                                   metrics.reload_rows(spans))
        v.expect(got["rows_in"] == got["rows_loaded"]
                 + got["rows_rejected_parse"] + got["rows_dropped_invalid"]
                 + got["rows_deduped"],
                 "rows in = loaded (Etl.run) + rejected + dropped + deduped "
                 "(probe)")
        v.expect(got == reload, f"run counters {got} == generator truth")
    inc = [s for s in spans if s["name"] == "etl.incremental" and s["ok"]]
    v.expect(bool(inc) and inc[-1]["info"]["appended"] == 0,
             "incremental re-load of the reload's bronze appends 0 rows "
             f"({inc[-1]['info']['appended'] if inc else 'not run'})")
    files = [o for o in ops if o["name"] == "upload.file"]
    n, nu = duckdb.sql(f"SELECT count(*), count(DISTINCT url) FROM "
                       f"{_parquet(res['silver'])}").fetchone()
    v.expect(n == nu, f"silver urls unique ({nu} distinct of {n})",
             ops=len(files))
    # exactly-once: silver holds each loaded envelope of the reload and
    # of the landed uploads once, as the first envelope of its url
    want = truth["loaded"][:truth["loaded_after_files"][res["landed"]]]
    got = duckdb.sql(f"SELECT url, name FROM {_parquet(res['silver'])}")
    v.expect(sorted(got.fetchall()) == sorted(map(tuple, want)),
             f"silver after {res['landed']} uploads == generator truth "
             f"({len(want)} first-wins (url, name) rows)", ops=len(files))


# ───────────────────────── registry ─────────────────────────

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"}


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object and len(df) and hasattr(df[c].iloc[0],
                                                          "__len__") \
                and not isinstance(df[c].iloc[0], str):
            df[c] = df[c].apply(lambda x: tuple(x) if x is not None else x)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_registry(v, res, tables_dir, ops):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_q(p)}")
    runs = {}
    for o in ops:
        runs.setdefault(o["name"][len("registry."):], []).append(o)
    for q, qops in sorted(runs.items()):
        out = os.path.join(res["outputs"], q)
        got = duckdb.sql(f"SELECT * FROM {_parquet(out)}")
        gdf = got.df()
        sql = res["oracles"].get(q)
        if sql is None:
            v.expect(False, f"{q}: no oracle registered", ops=len(qops))
            continue
        rel = con.sql(sql)
        otypes = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
        gtypes = dict(zip(got.columns, [str(t).upper() for t in got.types]))
        drift = [c for c in set(otypes) | set(gtypes)
                 if (otypes.get(c) in INT_TYPES or gtypes.get(c) in INT_TYPES)
                 and otypes.get(c) != gtypes.get(c)]
        g, e = _norm(gdf), _norm(rel.df())
        ok = not drift and list(g.columns) == list(e.columns) \
            and len(g) == len(e)
        if ok:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                              check_exact=True)
            except AssertionError:
                ok = False
        v.expect(ok, f"{q}: {len(g)} rows == DuckDB oracle ({len(e)} rows)"
                 + (f", integer type drift {drift}" if drift else ""),
                 ops=len(qops))


# ───────────────────────── entry ─────────────────────────

def check_attribution(v, res, cores):
    """Traced runs: every task's time lands on exactly one span, and no
    operation holds more task time than its cores could run."""
    spans = res["spans"]
    booked = sum(s.get("m", {}).get("task_run_s", 0.0) for s in spans)
    total = res["task_run_total_s"]
    # tasks that end while no span is open (a stream's trailing commit
    # between two operations) stay unattributed; allow 0.1% of them
    v.expect(total - booked <= 1e-3 * total,
             f"task time attributed to spans {booked:.3f} s of run total "
             f"{total:.3f} s")
    by_op = {}
    for s in spans:
        by_op[s["op"]] = by_op.get(s["op"], 0.0) + s.get("m", {}).get(
            "task_run_s", 0.0)
    over = [s["name"] for s in spans if s["parent"] == -1
            and by_op.get(s["op"], 0.0) > cores * metrics.dur(s) / 1e3 + 0.01]
    v.expect(not over, f"no operation above cores x wall {over[:3]}")


def check(workload, res, truth, cfg):
    v = Verdict()
    ops = metrics.ops_of(res)
    if cfg["trace"]:
        check_attribution(v, res, cfg["cores"])
    if workload == "registry_heavy":
        check_registry(v, res, cfg["tables_dir"], ops)
        return v.out()
    check_upload(v, res, truth, ops)
    # each page is checked against the silver snapshot it was served from
    snaps, cur = {}, None
    for s in res["spans"]:
        if s["parent"] != -1:
            continue
        if s["name"] == "silver.open" and s["ok"]:
            cur = "read_parquet([" + ", ".join(
                _q(os.path.join(res["silver"], f))
                for f in sorted(s["info"]["files"])) + "])"
        elif s["name"] == "page":
            snaps[s["id"]] = cur
    pages = [o for o in ops if o["name"] == "page" and o["ok"]]
    check_pages(v, pages, lambda op: snaps[op["id"]])
    return v.out()
