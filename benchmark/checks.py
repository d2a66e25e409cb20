"""Output checks made apart from the program: plain Python over the parquet
files a run wrote, plus the repository's DuckDB comparator for gates."""
import os
import re
import subprocess
import sys
from collections import Counter, defaultdict

import pyarrow.parquet as pq


def read_truth(input_dir):
    """record id -> planted entity id, from the generated input."""
    t = pq.read_table(input_dir, columns=["rec_id", "ent_id"]).to_pydict()
    return dict(zip(t["rec_id"], t["ent_id"]))


def partition_problems(what, clusters, ids):
    """Problems if `clusters` (lists of record ids) do not partition `ids`."""
    seen = Counter(r for c in clusters for r in c)
    dup = [r for r, n in seen.items() if n > 1]
    missing = set(ids) - seen.keys()
    extra = seen.keys() - set(ids)
    out = []
    if dup:
        out.append(f"{what}: {len(dup)} records in more than one cluster")
    if missing:
        out.append(f"{what}: {len(missing)} records in no cluster")
    if extra:
        out.append(f"{what}: {len(extra)} unknown record ids")
    if any(len(c) == 0 for c in clusters):
        out.append(f"{what}: empty cluster")
    return out


def pair_metrics(clusters, truth):
    """Pairwise precision, recall, F1 and adjusted Rand index of a
    clustering against the planted entities, from contingency counts."""
    def c2(n):
        return n * (n - 1) // 2
    cells = Counter()
    for i, c in enumerate(clusters):
        for r in c:
            cells[(i, truth[r])] += 1
    tp = sum(c2(n) for n in cells.values())
    pred = sum(c2(len(c)) for c in clusters)
    true = sum(c2(n) for n in Counter(truth.values()).values())
    total = c2(len(truth))
    precision = tp / pred if pred else 0.0
    recall = tp / true if true else 0.0
    f1 = 2 * tp / (pred + true) if pred + true else 0.0
    expected = pred * true / total
    ari = (tp - expected) / ((pred + true) / 2 - expected)
    return {"precision": precision, "recall": recall, "f1": f1, "ari": ari}


def read_chain(job_dir):
    """iteration -> partitionId -> clusters, from the sampler's chain."""
    t = pq.read_table(os.path.join(job_dir, "chain")).to_pydict()
    out = defaultdict(dict)
    for it, pid, ls in zip(t["iteration"], t["partitionId"],
                           t["linkageStructure"]):
        out[it][pid] = ls
    return out


def check_clustering(what, clusters, truth, reported, min_precision, min_f1):
    problems = partition_problems(what, clusters, truth)
    if problems:
        return problems
    got = pair_metrics(clusters, truth)
    for k, v in got.items():
        # Analysis rounds every metric to six decimals
        if abs(round(v, 6) - reported[k]) > 1.5e-6:
            problems.append(f"{what}: {k} recounted {v:.6f}, "
                            f"program reported {reported[k]}")
    if got["precision"] < min_precision:
        problems.append(f"{what}: precision {got['precision']:.4f} "
                        f"< {min_precision}")
    if min_f1 is not None and got["f1"] < min_f1:
        problems.append(f"{what}: F1 {got['f1']:.4f} < {min_f1}")
    return problems


def check_er_job(job_dir, truth, reported, min_precision, min_f1,
                 expected_samples):
    problems = []
    chain = read_chain(job_dir)
    if len(chain) != expected_samples:
        problems.append(f"chain: {len(chain)} samples, "
                        f"expected {expected_samples}")
    for it, parts in sorted(chain.items()):
        problems += partition_problems(
            f"chain sample {it}", [c for cs in parts.values() for c in cs],
            truth)
    smpc = pq.read_table(os.path.join(job_dir, "smpc"),
                         columns=["records"]).column("records").to_pylist()
    problems += check_clustering("smpc", smpc, truth, reported,
                                 min_precision, min_f1)
    return problems


def partition_skew(job_dir):
    """Largest over mean records per partition in the chain's last sample."""
    chain = read_chain(job_dir)
    parts = chain[max(chain)]
    sizes = [sum(len(c) for c in cs) for cs in parts.values()]
    return max(sizes) * len(sizes) / sum(sizes)


def run_check_py(root, data_dir, out_dir):
    """Runs scripts/check.py (strict compare); returns (pass, fail,
    rows-only, output)."""
    r = subprocess.run([sys.executable, os.path.join(root, "scripts",
                                                     "check.py"),
                        data_dir, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    m = re.search(r"== (\d+) pass, (\d+) fail, (\d+) rows-only ==", r.stdout)
    if r.returncode not in (0, 1) or not m:
        return 0, -1, 0, r.stdout
    return int(m[1]), int(m[2]), int(m[3]), r.stdout


def check_gates(root, res):
    problems = []
    n = len(res["gates"])
    for rnd in res["rounds"]:
        ok, bad, rows_only, text = run_check_py(root, res["data"], rnd["dir"])
        if bad != 0 or ok != len(rnd["times"]) or rows_only:
            fails = [ln for ln in text.splitlines()
                     if not ln.startswith("PASS")]
            problems.append(f"{rnd['dir']}: {ok}/{n} gates match DuckDB, "
                            f"{bad} fail, {rows_only} unchecked: "
                            + " | ".join(fails[-5:]))
    return problems
