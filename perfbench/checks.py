"""Output checks, run after the timed program has exited. Each returns the
ids of the ops whose output was wrong, plus context for the artifact."""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def _rows(path):
    t = pq.read_table(path)
    if "last_updated" in t.column_names:
        i = t.column_names.index("last_updated")
        t = t.set_column(i, "last_updated",
                         t["last_updated"].cast(pa.timestamp("us")).cast(pa.int64()))
    return [tuple(r.values()) for r in t.to_pylist()]


def etl(result, input_dir):
    """Replays the snapshots the run loaded and compares the published dim
    and fact after each exported batch. Keys whose winners tie on the
    ordering column may publish any tied row; they are counted, not failed."""
    ex = result["extra"]
    cold = sorted(glob.glob(os.path.join(input_dir, "cold", "*.json")))
    warm = sorted(glob.glob(os.path.join(input_dir, "warm", "*.json")))
    replay = gen.Replay()
    replay.apply([r for f in cold for r in json.load(open(f))])
    applied, bad_points, tied = 0, {}, []
    for i, chk in enumerate(ex["checks"]):
        while applied < chk["warm_applied"]:
            replay.apply(json.load(open(warm[applied])))
            applied += 1
        errors = []
        for name, state, conv in (("dim", replay.dim, tuple), ("fact", replay.fact, _fact_row)):
            got = [conv(r) for r in _rows(os.path.join(chk["dir"], name))]
            keys = [r[0] for r in got]
            if len(keys) != len(set(keys)):
                errors.append("%s: duplicate keys" % name)
            if set(keys) != set(state):
                errors.append("%s: key set differs (%d vs %d)" % (name, len(keys), len(state)))
            wrong = [r for r in got if r[0] in state and r not in state[r[0]]]
            if wrong:
                errors.append("%s: %d rows differ, e.g. %r" % (name, len(wrong), wrong[0]))
        tied.append({"warm_applied": applied, "tied_dim_keys": len(replay.tied_dim),
                     "tied_fact_keys": len(replay.tied_fact)})
        if errors:
            bad_points[i] = errors
    # A wrong backfill fails its cold op; a wrong later state fails every
    # warm op applied since the previous check.
    cold_ops = [o["id"] for o in result["ops"] if o["phase"] == "cold"]
    warm_ops = [o["id"] for o in result["ops"] if o["phase"] == "warm"]
    failed, prev = set(), 0
    for i, chk in enumerate(ex["checks"]):
        k = chk["warm_applied"]
        if i in bad_points:
            failed |= {cold_ops[i]} if i < len(cold_ops) else set(warm_ops[prev:k])
        prev = k
    return failed, {"check_points": len(ex["checks"]), "ties": tied,
                    "errors": {ex["checks"][i]["dir"]: e for i, e in bad_points.items()}}


EPOCH_MS = int(gen.SNAP_EPOCH.timestamp() * 1000)


def _fact_row(r):
    # last_updated arrives as epoch microseconds (see _rows); the replay
    # keeps milliseconds since gen.SNAP_EPOCH
    return tuple(r[:-1]) + (None if r[-1] is None else r[-1] // 1000 - EPOCH_MS,)


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "tolist"):
        return tuple(_norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _compare(con, sql, files):
    """None when the engine's result equals the oracle's (columns by name,
    rows sorted on every column), else the first difference."""
    sdf = con.execute("SELECT * FROM read_parquet(%r)" % files).fetch_df()
    odf = con.execute(sql).fetch_df()
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return "columns %s vs oracle %s" % (scols, ocols)
    if len(sdf) != len(odf):
        return "rows %d vs oracle %d" % (len(sdf), len(odf))
    try:
        sdf = sdf[scols].sort_values(by=scols, ignore_index=True)
        odf = odf[scols].sort_values(by=scols, ignore_index=True)
    except Exception as e:          # unsortable cells are a failure, as in the oracle compare
        return "row sort failed: %s" % e
    for c in scols:
        sv = [_norm(v) for v in sdf[c].tolist()]
        ov = [_norm(v) for v in odf[c].tolist()]
        for i, (a, b) in enumerate(zip(sv, ov)):
            if a != b and not (a is None and b is None):
                return "col %s row %d: %r vs oracle %r" % (c, i, a, b)
        st = next((type(v).__name__ for v in sv if v is not None), None)
        ot = next((type(v).__name__ for v in ov if v is not None), None)
        if st and ot and st != ot:
            return "col %s type %s vs oracle %s" % (c, st, ot)
    return None


def query_mix(result, input_dir):
    """Compares each query's cold-pass output with the DuckDB oracle over the
    same generated tables; every later op of the query must then produce a
    result with the same digest as its verified cold output."""
    con = duckdb.connect()
    star = os.path.join(input_dir, "star")
    for t in STAR_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, star, t))
    oracle = result["extra"]["oracle_sql"]
    phase = {o["id"]: o["phase"] for o in result["ops"]}
    failed, mismatches, verified = set(), {}, {}
    for out in result["extra"]["outputs"]:
        q, op = out["query"], out["op"]
        files = sorted(glob.glob(os.path.join(out["dir"], "*.parquet")))
        if phase[op] == "cold":
            err = "no output" if not files else _compare(con, oracle[q], files)
            if err is None:
                verified[q] = _digest(con, files)
        elif q not in verified:
            err = "cold output was wrong"
        elif not files or _digest(con, files) != verified[q]:
            err = "result differs from the verified cold result"
        else:
            err = None
        if err:
            failed.add(op)
            mismatches[op] = "%s: %s" % (q, err)
    return failed, {"oracle_mismatches": mismatches, "result_digests": verified}


def _digest(con, files):
    rows = con.execute("SELECT * FROM read_parquet(%r)" % files).fetchall()
    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()[:16]


def llm(result):
    """Per op: stage row accounting never grows, no chunk_hash repeats in
    `packed`, no benchmark doc is in the train split, and every output table
    digests the same as the first op's."""
    ex = result["extra"]
    bench_mod = ex["bench_mod"]
    con = duckdb.connect()
    ops = [o for o in result["ops"] if o["name"] == "pipelines"]
    failed, errors, first = set(), {}, None
    for op, out in zip(ops, ex["outputs"]):
        root, rows = out["root"], out["stage_rows"]
        errs = []
        docs = [rows[k] for k in ("curation.s1_quality", "curation.s2_dedup", "curation.s3_decontam")]
        if docs != sorted(docs, reverse=True):
            errs.append("document stages grow: %s" % docs)
        if rows["curation.s7_order"] > rows["curation.packed"]:
            errs.append("ordered rows exceed packed rows")
        emb = [rows[k] for k in ("embedding.s1_whiten", "embedding.s2_semdedup")]
        if emb != sorted(emb, reverse=True):
            errs.append("embedding stages grow: %s" % emb)
        packed = "%s/curation/packed.parquet/*.parquet" % root
        dup, leak = con.execute(
            "SELECT count(*) - count(DISTINCT chunk_hash), "
            "count(*) FILTER (WHERE split = 'train' AND doc_id %% %d = 0) "
            "FROM read_parquet('%s')" % (bench_mod, packed)).fetchone()
        if dup:
            errs.append("%d repeated chunk_hash in packed" % dup)
        if leak:
            errs.append("%d benchmark-doc chunks in train" % leak)
        digest = _tree_digest(con, root)
        if first is None:
            first = digest
        elif digest != first:
            errs.append("output digest differs from the first op's")
        if errs:
            failed.add(op["id"])
            errors[op["id"]] = errs
    return failed, {"errors": errors, "output_digest": first}


def _tree_digest(con, root):
    tables = sorted({os.path.dirname(p) for p in glob.glob(root + "/**/*.parquet", recursive=True)
                     if os.path.isfile(p)})
    parts = ["%s:%s" % (os.path.relpath(t, root), _digest(con, sorted(glob.glob(t + "/*.parquet"))))
             for t in tables]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
