"""Expected outputs of the graft benchmark, computed without graft.

The JVM side writes each workload's inputs as parquet and records, for
every operation, checksums of what graft returned. This module recomputes
the same checksums from the inputs by other means: DuckDB SQL (window
counts, exact dedup, shingle Jaccard, sequence packing) and closed-form
point-in-convex-polygon tests in numpy (zones and query polygons are
regular polygons with counter-clockwise vertices). For the default seed
the expected values are also pinned, so a change to the generator or to
this module shows as a mismatch.
"""
import hashlib
import json

import duckdb
import numpy as np

DEFAULT_SEED = 1

# sha256 prefix of each workload's expected answers for DEFAULT_SEED,
# as digest() computes them.
PINS = {
    "geo_join": "760302d5c654a180",
    "geo_table": "903906a334b19ddb",
    "corpus_dedup": "dc770a8f838af940",
}


def digest(answers):
    return hashlib.sha256(json.dumps(answers, sort_keys=True).encode()).hexdigest()[:16]


def _parquet(path):
    return "read_parquet('%s/*.parquet')" % path


def _inside_convex(px, py, xs, ys, strict):
    """Points inside a counter-clockwise convex polygon (xs, ys open ring)."""
    ok = np.ones(px.shape, dtype=bool)
    n = len(xs)
    for k in range(n):
        x0, y0, x1, y1 = xs[k], ys[k], xs[(k + 1) % n], ys[(k + 1) % n]
        cross = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)
        ok &= (cross > 0) if strict else (cross >= 0)
    return ok


class _Points:
    """Points sorted by x, for bounding-box selection."""

    def __init__(self, x, y, ids):
        order = np.argsort(x, kind="stable")
        self.x, self.y, self.ids = x[order], y[order], ids[order]

    def in_box(self, x0, y0, x1, y1):
        lo, hi = np.searchsorted(self.x, x0, "left"), np.searchsorted(self.x, x1, "right")
        sel = slice(lo, hi)
        m = (self.y[sel] >= y0) & (self.y[sel] <= y1)
        return self.x[sel][m], self.y[sel][m], self.ids[sel][m]


def geo_join_answers(con, fx):
    pts = con.execute("SELECT x, y, id FROM %s" % _parquet(fx["points"])).fetchnumpy()
    p = _Points(pts["x"], pts["y"], pts["id"])
    zones = con.execute("SELECT layer, zone, xs, ys FROM %s ORDER BY zone" % _parquet(fx["zones"])).fetchall()
    out = {}
    for layer, zone, xs, ys in zones:
        xs, ys = np.array(xs), np.array(ys)
        bx, by, bids = p.in_box(xs.min(), ys.min(), xs.max(), ys.max())
        inside = _inside_convex(bx, by, xs, ys, strict=True)
        n = int(inside.sum())
        a = out.setdefault(layer, {"zones": 0, "pairs": 0, "wsum": 0, "sq": 0, "ids": 0})
        if n:
            a["zones"] += 1
            a["pairs"] += n
            a["wsum"] += zone * n
            a["sq"] += n * n
            a["ids"] += int(bids[inside].sum())
    return out


def _query_answer(p, q):
    """(count, sum of ids) of one geo_table query over one point set."""
    c = np.array(q["coords"])
    if q["kind"] == "window":
        (x0, y0), (x1, y1) = c
        bx, by, bid = p.in_box(x0, y0, x1, y1)
        m = (bx > x0) & (bx < x1) & (by > y0) & (by < y1)
    else:
        xs, ys = c[:, 0], c[:, 1]
        bx, by, bid = p.in_box(xs.min(), ys.min(), xs.max(), ys.max())
        m = _inside_convex(bx, by, xs, ys, strict=False)
    return [int(m.sum()), int(bid[m].sum())]


def geo_table_answers(con, fx, queries):
    """Per query: its answer on the base table and on each append batch."""
    base = con.execute("SELECT x, y, id FROM %s" % _parquet(fx["base"])).fetchnumpy()
    app = con.execute("SELECT batch, x, y, id FROM %s" % _parquet(fx["appends"])).fetchnumpy()
    bp = _Points(base["x"], base["y"], base["id"])
    batches = {}
    for b in np.unique(app["batch"]):
        m = app["batch"] == b
        batches[int(b)] = _Points(app["x"][m], app["y"][m], app["id"][m])
    out = {}
    for qi, q in sorted(queries.items()):
        out[str(qi)] = {"base": _query_answer(bp, q),
                        "batches": {str(b): _query_answer(pb, q) for b, pb in sorted(batches.items())}}
    return out


def corpus_answers(con, fx):
    """The pipeline as the workload chains it: exact dedup keeps the
    lowest id of each text; MinHash verification runs over its survivors;
    packing runs over those less the higher id of each verified pair."""
    con.execute("CREATE OR REPLACE TEMP TABLE corpus AS SELECT * FROM %s" % _parquet(fx["corpus"]))
    con.execute("CREATE OR REPLACE TEMP TABLE kept AS "
                "SELECT * FROM corpus WHERE id IN (SELECT min(id) FROM corpus GROUP BY text)")
    n, s, sq = con.execute("SELECT count(*), sum(id), sum(id * id) FROM kept").fetchone()
    con.execute("""
        CREATE OR REPLACE TEMP TABLE verified AS
        WITH w AS (SELECT id, string_split(trim(lower(text)), ' ') AS ws FROM kept),
        sh AS (SELECT DISTINCT id, s FROM (
                 SELECT id, unnest(list_transform(range(1, len(ws) - 1),
                                                  i -> array_to_string(ws[i:i + 2], ' '))) AS s FROM w)),
        sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        pr AS (SELECT a.id AS ia, b.id AS ib, count(*) AS c FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
               GROUP BY 1, 2)
        SELECT ia, ib FROM pr JOIN sz za ON za.id = ia JOIN sz zb ON zb.id = ib
        WHERE c / (za.n + zb.n - c) >= {t}
    """.format(t=fx["verify_at"]))
    vc, vs = con.execute("SELECT count(*), coalesce(sum(ia * 1000003 + ib), 0) FROM verified").fetchone()
    # the generator's stage column: 0 exact copy, 1 near copy, 2 survivor of both
    consistent = con.execute("""
        SELECT (SELECT count(*) FROM kept k FULL JOIN (SELECT id FROM corpus WHERE stage >= 1) g USING (id)
                WHERE k.id IS NULL OR g.id IS NULL) = 0
           AND (SELECT count(*) FROM (SELECT DISTINCT ib AS id FROM verified) x
                FULL JOIN (SELECT id FROM corpus WHERE stage = 1) y USING (id)
                WHERE x.id IS NULL OR y.id IS NULL) = 0
    """).fetchone()[0]
    b = int(fx["budget"])
    pack = con.execute("""
        WITH d AS (SELECT id, ntok, md5(concat_ws(':', '{seed}', CAST(id AS VARCHAR))) AS o,
                          CAST(id AS VARCHAR) AS k FROM kept WHERE id NOT IN (SELECT ib FROM verified)),
        g AS (SELECT id, sum(ntok) OVER (ORDER BY o, k ROWS UNBOUNDED PRECEDING) - ntok AS gs FROM d)
        SELECT count(*), sum(gs // {b}), sum(gs % {b}), sum(id * (gs // {b})), sum(id * (gs % {b})),
               max(gs // {b}) FROM g
    """.format(seed=fx["seed"], b=b)).fetchone()
    return {
        "exact": {"n": int(n), "s": int(s), "sq": int(sq)},
        "minhash": {"verified": int(vc), "vsum": int(vs)},
        "pack": dict(zip(["n", "seq_sum", "off_sum", "id_seq", "id_off", "seq_max"], [int(v) for v in pack])),
        "fixture_consistent": bool(consistent),
    }


def check(raw):
    """Marks each operation of a run correct or not.

    Returns (list of booleans in operation order, list of messages, the
    digest of the expected answers). An operation is wrong if it raised,
    or if its output checksums differ from the expected ones.
    """
    fx = raw["fixture"]
    wl = raw["workload"]
    ops = raw["ops"]
    msgs = []
    con = duckdb.connect()
    try:
        if wl == "geo_join":
            answers = geo_join_answers(con, fx)
            expect = [answers[op["label"]] for op in ops]
            got = [op["result"] for op in ops]
        elif wl == "geo_table":
            answers = geo_table_answers(con, fx, {q["q"]: q for q in fx["queries"]})
            expect, got = _geo_table_expect(fx, ops, answers)
        else:
            answers = corpus_answers(con, fx)
            if not answers["fixture_consistent"]:
                msgs.append("corpus fixture: planted duplicates disagree with the DuckDB dedup")
            expect = [dict(answers[op["kind"]]) for op in ops]
            got = [{k: (op["result"] or {}).get(k) for k in e} if op["result"] else None
                   for op, e in zip(ops, expect)]
    finally:
        con.close()
    pinned = digest(answers)
    if raw["seed"] == DEFAULT_SEED and PINS[wl] != pinned:
        msgs.append("expected answers for the default seed differ from the pinned digest %s" % PINS[wl])
    ok = []
    for op, e, g in zip(ops, expect, got):
        good = op["error"] is None and g == e
        if not good:
            msgs.append("op %d %s: %s" % (op["i"], op["label"], op["error"] or "got %s, expected %s" % (g, e)))
        ok.append(good)
    if msgs and all(ok):
        ok = [False] * len(ok)
    return ok, msgs, pinned


def _geo_table_expect(fx, ops, answers):
    """Expected checksums of geo_table operations, replaying the appends."""
    batch_rows = int(fx["batch_rows"])
    appended = []
    expect, got = [], []
    for op in ops:
        if op["kind"] == "append":
            if op["error"] is None:
                appended.append(op["params"]["batch"])
            expect.append({"table_rows": int(fx["rows"]) + batch_rows * len(appended), "files_added_min": 1})
            c = op["check"] or {}
            got.append({"table_rows": c.get("table_rows"),
                        "files_added_min": 1 if (c.get("files_added") or 0) >= 1 else 0})
        else:
            a = answers[str(op["params"]["q"])]
            n, s = a["base"]
            for b in appended:
                bn, bs = a["batches"][str(b)]
                n, s = n + bn, s + bs
            expect.append({"n": n, "s": s})
            got.append(op["result"])
    return expect, got
