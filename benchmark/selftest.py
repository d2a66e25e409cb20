#!/usr/bin/env python3
"""Shows that every output check of the benchmark can fail: each case
feeds the same check functions run.py uses with a correct output (must
pass) and with a wrong one (must be rejected). Needs no Spark.

    python3 benchmark/selftest.py
"""
import itertools
import json
import os
import random
import sys
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gendata  # noqa: E402
import run  # noqa: E402

failures = []


def expect(name, problems, rejected):
    ok = bool(problems) == rejected
    verdict = "rejected" if problems else "accepted"
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {verdict}"
          + (f" ({problems[0]})" if problems else ""))
    if not ok:
        failures.append(name)


def brute_force_metrics(clusters, truth):
    """Pair counts by enumerating every record pair."""
    cid = {r: i for i, c in enumerate(clusters) for r in c}
    tp = fp = fn = tn = 0
    for a, b in itertools.combinations(sorted(truth), 2):
        same_p, same_t = cid[a] == cid[b], truth[a] == truth[b]
        tp += same_p and same_t
        fp += same_p and not same_t
        fn += same_t and not same_p
        tn += not same_p and not same_t
    n = tp + fp + fn + tn
    exp = (tp + fp) * (tp + fn) / n
    return {"precision": tp / (tp + fp), "recall": tp / (tp + fn),
            "f1": 2 * tp / (2 * tp + fp + fn),
            "ari": (tp - exp) / ((2 * tp + fp + fn) / 2 - exp)}


def er_cases(tmp):
    rng = random.Random(7)
    truth = {f"r{i}": f"e{i // 3}" for i in range(60)}
    # predicted: the planted entities with a few records split off
    good = {}
    for r, e in truth.items():
        good.setdefault(e if rng.random() > 0.2 else r, []).append(r)
    good = list(good.values())
    reported = {k: round(v, 6) for k, v in
                checks.pair_metrics(good, truth).items()}
    brute = brute_force_metrics(good, truth)
    expect("recount equals brute-force pair enumeration",
           [k for k in brute if abs(brute[k] - reported[k]) > 1e-6], False)

    def write_job(smpc, samples):
        d = tempfile.mkdtemp(dir=tmp)
        pq.write_table(pa.table({"records": smpc}),
                       os.path.join(d, "smpc.parquet"))
        os.makedirs(os.path.join(d, "smpc"))
        os.rename(os.path.join(d, "smpc.parquet"),
                  os.path.join(d, "smpc", "part-0.parquet"))
        rows = [(it, pid, [c for j, c in enumerate(cl) if j % 2 == pid])
                for it, cl in samples for pid in (0, 1)]
        pq.write_to_dataset(pa.table({
            "iteration": [r[0] for r in rows],
            "partitionId": [r[1] for r in rows],
            "linkageStructure": [r[2] for r in rows]}),
            os.path.join(d, "chain"), partition_cols=["partitionId"])
        return d

    def job(smpc, samples, rep=reported, floor=None):
        return checks.check_er_job(write_job(smpc, samples), truth, rep,
                                   0.99, floor, len(samples))

    samples = [(10, good), (20, good)]
    expect("correct ER job", job(good, samples), False)
    moved = [c[:] for c in good]
    r = moved[0].pop()
    next(c for c in moved[1:] if truth[c[0]] != truth[r]).append(r)
    expect("SMPC with one record moved into another entity's cluster",
           job(moved, samples), True)
    expect("SMPC missing a record", job([c for c in good[1:]], samples), True)
    expect("SMPC with a record in two clusters",
           job(good + [[good[0][0]]], samples), True)
    expect("chain sample missing a record",
           job(good, [(10, good), (20, good[1:])]), True)
    expect("chain with a sample too few", checks.check_er_job(
        write_job(good, samples), truth, reported, 0.99, None, 3), True)
    lumped = [sorted(truth)]
    expect("clustering below the precision floor", job(lumped, samples, {
        k: round(v, 6) for k, v in checks.pair_metrics(lumped, truth).items()
    }), True)
    expect("clustering below the F1 floor", job(good, samples, floor=0.999),
           True)


def gate_cases(tmp):
    data = os.path.join(tmp, "data")
    gendata.generate(data, 0.001, 1, 20)
    sql = ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s "
           "FROM orders GROUP BY o_orderpriority")

    def round_dir(transform):
        d = tempfile.mkdtemp(dir=tmp)
        os.makedirs(os.path.join(d, "q_probe"))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
        rows = con.execute(f"SELECT * FROM ({sql}) ORDER BY 1").arrow()
        pq.write_table(transform(rows),
                       os.path.join(d, "q_probe", "part-0.parquet"))
        with open(os.path.join(d, "oracle_sql.json"), "w") as fh:
            json.dump({"q_probe": sql}, fh)
        return {"gates": ["q_probe"], "data": data,
                "rounds": [{"dir": d, "times": {"q_probe": 0.1}}]}

    def set_col(t, name, values):
        i = t.schema.get_field_index(name)
        f = t.schema.field(i)
        return t.set_column(i, f, pa.array(values, f.type))

    expect("correct gate output",
           checks.check_gates(ROOT, round_dir(lambda t: t)), False)
    expect("gate output with one sum off by one ulp", checks.check_gates(
        ROOT, round_dir(lambda t: set_col(t, "s", [
            v if i else float.__add__(v, v * 2.2e-16)
            for i, v in enumerate(t.column("s").to_pylist())]))), True)
    expect("gate output missing a row", checks.check_gates(
        ROOT, round_dir(lambda t: t.slice(1))), True)
    expect("gate output with a column of another type", checks.check_gates(
        ROOT, round_dir(lambda t: t.set_column(
            1, "n", t.column("n").cast(pa.float64())))), True)


def summary_cases():
    """run.py's result line when no operation of a run succeeded: it is
    still printed, with the attempted and failed counts, null metrics and
    correct false."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base = {"session_s": 3.0, "warm_s": 4.0, "peak_rss_mb": 900.0,
            "trace": {}}
    er = dict(base, attempted=1, failed=1, job_s=[], sample_s=[], sweeps=20,
              thin=10, jobs=[])
    gates = dict(base, attempted=33, failed=33,
                 rounds=[{"dir": "round0", "times": {}}])
    for what, workload, res in (("ER job", "er_rl10k", er),
                                ("gate round", "gates", gates)):
        for trace in (0, 1):
            out = run.summarize(res, workload, spec, trace, [])
            problems = [] if out["correct"] else ["correct is false"]
            metrics = spec["per_layer" if trace else "end_to_end"]
            if (json.loads(json.dumps(out))["metrics"].keys()
                    != {m["name"] for m in metrics}
                    or any(v["value"] is not None
                           for v in out["metrics"].values())
                    or (out["attempted"], out["failed"])
                    != (res["attempted"], res["failed"])):
                problems = []
            expect(f"result line of a run whose only {what} failed "
                   f"(--trace {trace})", problems, True)


def main():
    build = os.path.join(ROOT, ".bench_build")
    os.makedirs(build, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        er_cases(tmp)
        gate_cases(tmp)
    summary_cases()
    if failures:
        print(f"{len(failures)} check case(s) did not behave: {failures}")
        sys.exit(1)
    print("every check accepts correct output and rejects the wrong ones")


if __name__ == "__main__":
    main()
