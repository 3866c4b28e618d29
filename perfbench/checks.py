"""Output checks, run after the timed window: Spark results against their
DuckDB oracles (the engine's ``SparkEntry.oracleSql``) and counts against
the input manifest. Oracle results are cached per input set, keyed by the
oracle text, as a canonical hash plus row count."""
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canon(rows, cols):
    """Columns sorted by name, values normalised (floats to 9 places), rows
    sorted: the form both engines' results are compared in."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out, [cols[i] for i in idx]


def digest(rows, cols):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r, default=str).encode())
    return h.hexdigest()


def spark_result(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    t = pq.read_table(files[0])
    return canon([list(r.values()) for r in t.to_pylist()], list(t.column_names))


class Oracles:
    """DuckDB over data dirs: every ``*.parquet`` in them is a view, a
    later dir's table replacing an earlier one's of the same name."""

    def __init__(self, data_dirs, cache_dir):
        self.data_dirs = data_dirs
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for p in [p for d in self.data_dirs for p in sorted(glob.glob(f"{d}/*.parquet"))]:
                name = os.path.basename(p)[: -len(".parquet")]
                self._con.execute(
                    f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def result(self, sql):
        """(hash, row count) of the oracle's canonical result, cached."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = f"{self.cache_dir}/{key}.json"
        if os.path.exists(path):
            with open(path) as f:
                c = json.load(f)
            return c["hash"], c["rows"]
        res = self._connect().execute(sql)
        rows, cols = canon(res.fetchall(), [d[0] for d in res.description])
        out = {"hash": digest(rows, cols), "rows": len(rows)}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out["hash"], out["rows"]


def funnel_error(path, docs):
    """Consistency of the curation pipeline's survivor funnel: every stage
    keeps at most what the one before it kept, stage 0 holds the whole
    corpus, and the written store replays stage 4 exactly. Returns the
    first violation, or None."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return "no result"
    rows = sorted(pq.read_table(files[0]).to_pylist(), key=lambda r: r["stage"])
    stages = [r["stage"] for r in rows]
    if stages != ["0_ingest", "1_quality", "2_exact", "3_canonical", "4_mixture", "5_written"]:
        return f"stages {stages}"
    if rows[0]["n_docs"] != docs:
        return f"stage 0 holds {rows[0]['n_docs']} docs, corpus has {docs}"
    for a, b in zip(rows[:4], rows[1:5]):
        if b["n_docs"] > a["n_docs"] or b["n_tokens"] > a["n_tokens"]:
            return f"{b['stage']} grows over {a['stage']}"
    if (rows[5]["n_docs"], rows[5]["n_tokens"]) != (rows[4]["n_docs"], rows[4]["n_tokens"]):
        return "written store differs from stage 4"
    return None


def evaluate(result, manifest, oracles):
    """Apply every check in a run's result. Returns ``(failed, problems,
    oracle_rows)``: ``failed`` counts op instances that threw or produced a
    wrong output, ``problems`` lists what was wrong, ``oracle_rows`` maps a
    checked entry to its oracle's row count."""
    problems = [f"{f['op']}: {f['error']}" for f in result["failures"]]
    failed = len(result["failures"])
    bad_ops = set()
    oracle_rows = {}
    for c in result["checks"]:
        if c["kind"] == "count":
            want = manifest.get(c["expect"])
            if c["got"] != want:
                failed += 1
                problems.append(f"{c['name']}: {c['got']} rows, expected {want}")
            continue
        if c["kind"] == "funnel":
            err = funnel_error(c["path"], manifest.get("docs"))
            if err:
                bad_ops.add(c["op"])
                problems.append(f"{c['name']}: {err}")
            continue
        if c.get("oracle") is None:
            bad_ops.add(c["op"])
            problems.append(f"{c['name']}: no oracle")
            continue
        try:
            want_hash, want_rows = oracles.result(c["oracle"])
            rows, cols = spark_result(c["path"])
            oracle_rows[c["name"]] = want_rows
            if digest(rows, cols) != want_hash:
                bad_ops.add(c["op"])
                problems.append(f"{c['name']}: result differs from its oracle "
                                f"({len(rows)} rows vs {want_rows})")
        except Exception as e:  # an unreadable result is a wrong result
            bad_ops.add(c["op"])
            problems.append(f"{c['name']}: check error {e}")
    ops = result["ops"]
    pages = {}
    for r in result["requests"]:
        pages.setdefault(r["page"], []).append(r)
    for op in sorted(bad_ops):
        if op.startswith("request:"):
            failed += sum(1 for r in pages.get(op[len("request:"):], []) if r["rows"] >= 0)
        else:
            failed += len(ops.get(op, []))
    # every timed request must return its page's oracle row count
    for page, reqs in pages.items():
        if f"request:{page}" in bad_ops or page not in oracle_rows:
            continue
        wrong = [r for r in reqs if r["rows"] >= 0 and r["rows"] != oracle_rows[page]]
        if wrong:
            failed += len(wrong)
            problems.append(f"{page}: {len(wrong)} requests with a wrong row count")
    return failed, problems, oracle_rows
