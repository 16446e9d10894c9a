"""Output checks. Each returns (attempted, failed, messages); a failed
check counts as a failed operation, never as a crash or a silent pass."""
import glob
import os

import duckdb


def bulk_rows(plan, cycle):
    """Rows the bulk SQL (an aggregate of the cycle's own run) must return."""
    p = plan[cycle]
    return sorted(f"{p['run_id']}|{flag}|{n}|{qty}.00|{ext_cents // 100}.{ext_cents % 100:02d}"
                  for flag, (n, qty, ext_cents) in p["agg"].items())


def pipeline(res, plan):
    attempted, failed, msgs = 0, 0, []
    for i, u in enumerate(res["units"]):
        attempted += 2
        if sorted(res["reads"].get(u["id"], [])) != bulk_rows(plan, i):
            failed += 1
            msgs.append(f"{u['id']}: SQL aggregate differs from the generated snapshots")
        states = res["ledger"].get(u["run_id"], [])
        done = [s for s in states if s["state"] == "PREPARED COMPLETED"]
        if not done or int(done[-1]["prepared_rows"] or -1) != plan[i]["admitted"]:
            failed += 1
            msgs.append(f"{u['run_id']}: not PREPARED COMPLETED with "
                        f"{plan[i]['admitted']} prepared rows: {states}")
    attempted += 1
    done = plan[:len(res["units"])]
    expected = {p["run_id"]: p["admitted"] for p in done if p["admitted"] > 0}
    if res["prepared_rows"] != expected:
        failed += 1
        msgs.append(f"prepared rows per run {res['prepared_rows']} != generated {expected}")
    return attempted, failed, msgs


def canon(df):
    """The oracle comparison's canonical form: columns sorted by name,
    every value as its string, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return list(df.columns), []
    return list(df.columns), sorted(df.astype(str).apply(lambda r: "|".join(r), axis=1).tolist())


def operator_mix(res, fixtures, results):
    """Each query's set-up result against its DuckDB oracle SQL over the
    same fixture files; rows-only queries (no oracle) must return rows."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(fixtures, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    attempted, failed, msgs = 0, 0, []
    for q, n in sorted(res["setup_rows"].items()):
        attempted += 1
        sql = res["oracle"].get(q)
        try:
            if sql is None:
                ok = n > 0
            else:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')").fetchdf()
                ok = canon(got) == canon(con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            ok = False
            msgs.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
        if not ok:
            failed += 1
            msgs.append(f"{q}: result differs from the oracle")
    return attempted, failed, msgs
