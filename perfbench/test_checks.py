"""Tests the benchmark's correctness checks themselves: each workload's
check must pass on a run's real outputs and fail on every corrupted copy
of them (one row dropped, one value or score perturbed).

    python3 perfbench/test_checks.py [workload ...]

Run from the root of a checkout; it runs each workload once with the
smallest fixed work (`--seconds 1`) and keeps the run's outputs.
Exits non-zero if a check accepts a corrupted output or rejects a real one.
"""
import copy
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import pandas as pd  # noqa: E402


def drop_row(df, i=0):
    return df.drop(df.index[i]).reset_index(drop=True)


def bump(df, col, delta, i=0):
    df = df.copy()
    df.loc[df.index[i], col] = df.loc[df.index[i], col] + delta
    return df


def with_(outputs, key, value):
    o = dict(outputs)
    o[key] = value
    return o


def short_input_rows(o):
    r = copy.deepcopy(o["result"])
    r["notes"]["input_rows_per_query"][0] -= 1
    return with_(o, "result", r)


def no_builds(o):
    r = copy.deepcopy(o["result"])
    r["notes"]["artifact_builds"] = 0
    return with_(o, "result", r)


def entry(o, fn):
    name = sorted(o["entries"])[0]
    return with_(o, "entries", dict(o["entries"], **{name: fn(o["entries"][name])}))


def first_numeric(df):
    return next(c for c in df.columns if str(df[c].dtype).startswith(("int", "float")))


CORRUPTIONS = {
    "topology": {
        "table row dropped": lambda o: with_(o, "table", drop_row(o["table"])),
        "table ts perturbed": lambda o: with_(o, "table", bump(o["table"], "ts",
                                                               pd.Timedelta(1, "us"))),
        "filtered value perturbed": lambda o: with_(o, "filtered", o["filtered"].assign(
            value=["click"] + list(o["filtered"]["value"][1:]))),
        "sink row dropped": lambda o: with_(o, "sink", drop_row(o["sink"])),
        "numInputRows short": short_input_rows,
    },
    "batch_mix": {
        "entry row dropped": lambda o: entry(o, drop_row),
        "entry value perturbed": lambda o: entry(o, lambda df: bump(df, first_numeric(df), 1)),
        "corpus row dropped": lambda o: with_(o, "corpus", drop_row(o["corpus"])),
        "corpus token count perturbed": lambda o: with_(o, "corpus",
                                                        bump(o["corpus"], "total_tokens", 1)),
        "no artifact build counted": no_builds,
    },
}


def kept_run(workload):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", "5", "--seconds", "1", "--trace", "0", "--keep"],
                         check=True, capture_output=True, text=True).stdout.strip().splitlines()
    return Path(json.loads(out[-2])["kept"])


def main():
    failures = []
    for workload in sys.argv[1:] or list(CORRUPTIONS):
        run = kept_run(workload)
        try:
            props = dict(line.split("=", 1) for line in
                         (run / "run.properties").read_text().splitlines())
            real = checks.load(workload, run)
            problems = checks.check(workload, run, copy.deepcopy(real), props)
            print(f"{workload}: real outputs -> {problems or 'pass'}")
            if problems:
                failures.append(f"{workload}: real outputs rejected")
            for name, corrupt in CORRUPTIONS[workload].items():
                problems = checks.check(workload, run, corrupt(copy.deepcopy(real)), props)
                print(f"{workload}: {name} -> {problems[:1] or 'ACCEPTED'}")
                if not problems:
                    failures.append(f"{workload}: {name} accepted")
        finally:
            shutil.rmtree(run, ignore_errors=True)
    if failures:
        sys.exit("FAILED: " + "; ".join(failures))
    print("all checks reject their corrupted outputs")


if __name__ == "__main__":
    main()
