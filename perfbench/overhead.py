#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end values, same seed.

    python3 perfbench/overhead.py --workload cdc_state_sync --seed 1 --seconds 25

Runs ``run.py`` twice with the same arguments, first with ``--trace 0``
and then with ``--trace 1``, and prints per end-to-end metric the
untraced value, the traced value (the ``# traced`` lines of the traced
run) and their difference, absolute and as a share of the untraced
value. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict[str, tuple[float, str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise SystemExit(f"run.py --trace {trace} exited {proc.returncode}")
    out = {}
    for line in proc.stdout.splitlines():
        if trace:
            if not line.startswith("# traced "):
                continue
            line = line[len("# traced "):]
        elif line.startswith(("#", "{")):
            continue
        name, value, unit = line.split()
        out[name] = (float(value), unit)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    untraced, traced = _run(args, 0), _run(args, 1)
    rows = {}
    for name, (u, unit) in untraced.items():
        t = traced[name][0]
        rows[name] = {"untraced": u, "traced": t, "diff": t - u, "unit": unit}
        print(f"{name:24s} {u:12.4f} {t:12.4f} {t - u:+10.4f} {unit:3s} "
              f"{(t - u) / u:+.1%}")
    print(json.dumps(rows, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
