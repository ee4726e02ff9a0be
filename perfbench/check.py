"""Output checks of the graft benchmark.

Dedup workload: each timed key ran once more, untimed, into parquet;
its rows are compared with the key's oracle SQL run by DuckDB on the
same generated parquet (exactly, or for a banded-LSH key with exact
precision and a recall bound). Lakehouse workload: the final table, the
row set replayed from its change-feed stream, and every timed read are
compared with an independent model of the script.

Each check returns the names of the checked operations that failed,
with a reason, so the caller can count them in the failure ratio.
"""
import decimal
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (2, v)
    if isinstance(v, (int,)) and not isinstance(v, bool):
        return (2, float(v)) if abs(v) < 2 ** 53 else (3, str(v))
    if isinstance(v, (list, tuple)):
        return (4, tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return (5, tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, bytes):
        return (6, v.hex())
    return (7, str(v))


def _close(a, b):
    if a[0] != b[0]:
        return False
    if a[0] == 2:
        x, y = a[1], b[1]
        return x == y or abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
    if a[0] in (4, 5):
        return len(a[1]) == len(b[1]) and all(_close(p, q) for p, q in zip(a[1], b[1]))
    return a == b


def rows_match(got_cols, got_rows, exp_cols, exp_rows):
    """Multiset equality of two results, columns matched by name and
    numbers equal to 1e-9 relative (cross-engine summation order)."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} vs {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} vs {len(exp_rows)}"
    order_g = [got_cols.index(c) for c in sorted(got_cols)]
    order_e = [exp_cols.index(c) for c in sorted(exp_cols)]
    g = sorted(tuple(_canon(r[i]) for i in order_g) for r in got_rows)
    e = sorted(tuple(_canon(r[i]) for i in order_e) for r in exp_rows)
    for i, (a, b) in enumerate(zip(g, e)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a!r} vs {b!r}"[:400]
    return None


# Keys whose pairs come from banded MinHash LSH, `bands` bands of `rows`
# rows each (graft.ops.Dedup.minhashPairs). The engine verifies every
# candidate exactly, so its pairs must be exact pairs with the exact
# similarity; but a true pair of similarity J shares no band, and is
# missed, with probability (1 - J^rows)^bands (36 % at J = 0.5).
BANDED = {"ml_dedup_minhash": {"ids": ("id_a", "id_b"), "sim": "jaccard",
                               "bands": 16, "rows": 4}}


def banded_match(got_cols, got_rows, exp_cols, exp_rows, ids, sim, bands, rows):
    """(reason or None, note) for a banded-LSH pair set against the exact
    pairs. Precision is exact: every returned pair is an exact pair with
    an equal similarity. Recall is bounded: the missed pairs may number at
    most their expected count under the banding plus four standard
    deviations plus one."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} vs {sorted(exp_cols)}", {}

    def pairs(cols, rs):
        a, b, s = (cols.index(c) for c in (*ids, sim))
        return {(r[a], r[b]): r[s] for r in rs}
    got, exp = pairs(got_cols, got_rows), pairs(exp_cols, exp_rows)
    extra = sorted(k for k in got if k not in exp)
    if extra:
        return f"{len(extra)} pairs not in the exact set, first {extra[0]}", {}
    for k, v in got.items():
        if not _close(_canon(v), _canon(exp[k])):
            return f"pair {k}: similarity {v!r} vs {exp[k]!r}", {}
    q = [(1.0 - float(v) ** rows) ** bands for v in exp.values()]
    expected = sum(q)
    allowed = expected + 4.0 * math.sqrt(sum(x * (1.0 - x) for x in q)) + 1.0
    missed = len(exp) - len(got)
    note = {"pairs": len(exp), "missed": missed, "expected_missed": round(expected, 3),
            "allowed_missed": round(allowed, 3)}
    if missed > allowed:
        return f"missed {missed} of {len(exp)} pairs, at most {allowed:.1f} allowed", note
    return None, note


def oracle(inputs, verify_dir, verification):
    """({key: reason} for every key whose verified result is wrong,
    {key: note} from the banded-LSH recall checks)."""
    bad = dict(verification.get("errors", {}))
    notes = {}
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    sqls = verification.get("oracle", {})
    for key in verification["keys"]:
        if key in bad:
            continue
        if key not in sqls:
            bad[key] = "no oracle SQL for this key"
            continue
        files = glob.glob(os.path.join(verify_dir, key, "*.parquet"))
        if not files:
            bad[key] = "no verified output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{verify_dir}/{key}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            exp = con.execute(sqls[key])
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
        except Exception as e:  # the oracle side failing is a failed check too
            bad[key] = f"oracle: {type(e).__name__}: {e}"[:400]
            continue
        if key in BANDED:
            why, notes[key] = banded_match(got_cols, got_rows, exp_cols, exp_rows,
                                           **BANDED[key])
        else:
            why = rows_match(got_cols, got_rows, exp_cols, exp_rows)
        if why:
            bad[key] = why
    return bad, notes


class LakeModel:
    """The script applied to a dict keyed by k: the expected table."""

    def __init__(self, inputs):
        self.inputs = inputs
        with open(os.path.join(inputs, "script.json")) as f:
            self.script = json.load(f)
        self.state = {r["k"]: r for r in pq.read_table(
            os.path.join(inputs, "base.parquet")).to_pylist()}

    def apply(self, r):
        op = self.script["rounds"][r]
        for name in (op["insert"], op["merge"]):
            for row in pq.read_table(os.path.join(self.inputs, name)).to_pylist():
                self.state[row["k"]] = row
        for k in op["delete"]:
            self.state.pop(k, None)

    def rows(self):
        return sorted((r["k"], r["p"], r["v"], r["note"]) for r in self.state.values())

    def read(self, query, part):
        if query == "read_part":
            vs = [r["v"] for r in self.state.values() if r["p"] == part]
            return [[len(vs), sum(vs) if vs else None]]
        out = {}
        for r in self.state.values():
            n, s, m = out.get(r["p"], (0, 0, None))
            out[r["p"]] = (n + 1, s + r["v"], r["k"] if m is None else max(m, r["k"]))
        return [[p, *out[p]] for p in sorted(out)]


def replay(cdf_dir):
    """Row set a consumer rebuilds from the change feed: per micro-batch,
    deletes first, then inserts and upserts (one change per key per
    round, so order inside a batch only matters for an update's pair)."""
    state = {}
    files = glob.glob(os.path.join(cdf_dir, "*.parquet"))
    if not files:
        return []
    rows = pq.ParquetDataset(cdf_dir).read().to_pylist()
    for b in sorted({r["_batch"] for r in rows}):
        batch = [r for r in rows if r["_batch"] == b]
        for r in batch:
            if r["_CHANGE_TYPE"] in ("delete", "update_preimage"):
                state.pop(r["k"], None)
        for r in batch:
            if r["_CHANGE_TYPE"] not in ("delete", "update_preimage"):
                state[r["k"]] = (r["k"], r["p"], r["v"], r["note"])
    return sorted(state.values())


def lake(inputs, verify_dir, verification, rounds_run):
    """{(op, round): reason} for failed lakehouse checks: `op` is a read's
    name with its round, or an operation kind with round None for every
    operation of that kind."""
    bad = {}
    reads = {(rd["round"], rd["query"]): rd for rd in verification["reads"]}
    model = LakeModel(inputs)
    for r in range(rounds_run):
        model.apply(r)
        part = model.script["rounds"][r]["part"]
        for q in ("read_part", "read_all"):
            rd = reads.get((r, q))
            if rd is None:
                continue
            want = model.read(q, part)
            if rd["rows"] != want:
                bad[(q, r)] = f"{rd['rows']!r:.200} vs {want!r:.200}"
    want = model.rows()
    if verification["error"]:
        bad[("commit", None)] = verification["error"]
        return bad
    got = sorted((r["k"], r["p"], r["v"], r["note"]) for r in pq.read_table(
        os.path.join(verify_dir, "lake")).to_pylist())
    if got != want:
        bad[("commit", None)] = f"final table: {len(got)} rows vs {len(want)} expected"
    fed = replay(verification["cdf_dir"])
    if fed != want:
        bad[("catchup", None)] = f"feed replay: {len(fed)} rows vs {len(want)} expected"
    return bad
