"""Output checks: every recorded operation either matches the truth or
counts as failed.

- An operation that threw in the JVM failed.
- `state/<seq>`: the changesets and comments digests and the three
  README counts must equal the generator's state after feed sequence
  `seq`.
- `lookup/<tick>/<i>`: the looked-up row must equal the generator's row
  for that id after that tick.
- `fingerprint/<entry>`: the warm-up result of a query entry must have
  the row count and order-insensitive hash of its oracle SQL run in
  DuckDB over the same tables, normalised as `tools/check.py` does.
"""
import json
import os
import sys


def check(workload, run, ops, truth, oracle=None):
    """Return the failed operations, each with a `why`."""
    failed = []
    fingerprints = None
    for o in ops:
        key = o["key"]
        why = None
        if not o["ok"]:
            why = o["err"] or "threw"
        elif key.startswith("state/"):
            why = state_mismatch(truth, key.split("/")[1], o["obs"])
        elif key.startswith("lookup/"):
            _, tick, i = key.split("/")
            want = truth["lookups"][int(tick) - 1]["rows"][int(i)]
            if o["obs"] != want:
                why = f"row {o['obs']!r} != {want!r}"
        elif key.startswith("fingerprint/"):
            if fingerprints is None:
                fingerprints = oracle or oracle_fingerprints(run)
            why = fingerprint_mismatch(run, key.split("/", 1)[1], fingerprints)
        if why:
            failed.append(dict(o, why=why))
    missing = required(workload, ops, truth)
    failed += [{"kind": "check", "name": "missing", "key": k, "why": "never observed"}
               for k in missing]
    return failed


def required(workload, ops, truth):
    keys = {o["key"] for o in ops}
    if workload == "lifecycle":
        states = [k for k in keys if k.startswith("state/")]
        need = {"state/load", f"state/{truth['backlog']}"}
        return sorted(need - keys) + ([] if len(states) >= 3 else ["state/<final>"])
    if workload == "query_mix":
        return [] if any(k.startswith("fingerprint/") for k in keys) else ["fingerprint/*"]
    return []


def state_mismatch(truth, seq, obs):
    want = truth["states"].get(seq)
    if want is None:
        return f"no expected state for sequence {seq}"
    got_cs, got_cm, got_readme = obs.split(" ")
    exp = (want["changesets"], want["comments"], ",".join(map(str, want["readme"])))
    if (got_cs, got_cm, got_readme) != exp:
        return f"state {(got_cs, got_cm, got_readme)} != {exp}"
    return None


def _check_tool():
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check as tool  # tools/check.py: the gate's own normalisation
    return tool


def oracle_fingerprints(run):
    """(columns, digest) of every oracle SQL the JVM exported, run in
    DuckDB over the run's tables."""
    import duckdb
    tool = _check_tool()
    with open(f"{run}/oracle_sql.json") as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{run}/duckdb'")
    for t in tool.TABLES:
        p = f"{run}/data/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in con.description]
            out[name] = (sorted(cols), tool.rows_hash(tool.iter_duck_rows(cur), cols)[0])
        except Exception as e:  # an oracle that cannot run fails its entry
            out[name] = (None, f"oracle error: {e}")
    return out


def spark_fingerprint(run, name):
    import glob
    tool = _check_tool()
    files = glob.glob(f"{run}/results/{name}/*.parquet")
    if not files:
        return None, "no result files"
    cols = tool.spark_result_cols(files)
    return sorted(cols), tool.rows_hash(tool.iter_spark_rows(files, cols), cols)[0]


def fingerprint_mismatch(run, name, fingerprints):
    if name not in fingerprints:
        return "no oracle SQL for entry"
    got, want = spark_fingerprint(run, name), fingerprints[name]
    return None if got == want else f"fingerprint {got} != oracle {want}"
