"""Idle-gated wrapper around the FROZEN driver bench (r6 verdict item
3: "make bench.py defend itself" — bench.py itself is measurement-
frozen this round, so the defense lives here).

Waits (bounded) until the box looks idle — 1-min loadavg under
--max-load AND the same single-thread spin calibration bench.py
records staying under --max-spin — then runs bench.py unchanged and
re-emits its JSON line with a "canonical" verdict attached:

    canonical = started idle AND, in the run's own attribution fields,
                loadavg_before[0] under --max-load and
                spin_sec_{before,after} both under --max-spin.

The run's own loadavg_before is checked as well as the pre-launch gate,
so load that arrives after the gate passes cannot stamp a run canonical.

If the wait times out, the run STILL executes (a number with a
pollution flag beats no number) but is marked non-canonical.

Usage: python tools/idle_bench.py [--max-wait 600] [--max-load 2.0]
       [--max-spin 1.0] [-- extra env via the caller's environment]
Prints bench.py's JSON line with {"canonical": bool, "wait_sec": s,
"gate": {...}} merged in.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def _spin() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    assert x
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-wait", type=float, default=600.0)
    ap.add_argument("--max-load", type=float, default=2.0)
    ap.add_argument("--max-spin", type=float, default=1.0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    waited_out = False
    while True:
        load1 = os.getloadavg()[0]
        spin = _spin()
        if load1 <= args.max_load and spin <= args.max_spin:
            break
        if time.perf_counter() - t0 > args.max_wait:
            waited_out = True
            break
        time.sleep(15.0)
    wait_sec = round(time.perf_counter() - t0, 1)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "bench.py")],
        capture_output=True, text=True)
    line = None
    for ln in reversed(proc.stdout.strip().splitlines()):
        ln = ln.strip()
        if ln.startswith("{"):
            line = ln
            break
    if line is None:
        print(json.dumps({"canonical": False, "error": "no JSON line",
                          "rc": proc.returncode,
                          "stderr_tail": proc.stderr[-500:]}))
        sys.exit(1)
    out = json.loads(line)
    started_idle = not waited_out
    load_ok = out.get("loadavg_before", [9e9])[0] <= args.max_load
    spins_ok = (out.get("spin_sec_before", 9e9) <= args.max_spin
                and out.get("spin_sec_after", 9e9) <= args.max_spin)
    out["canonical"] = bool(started_idle and load_ok and spins_ok)
    out["wait_sec"] = wait_sec
    out["gate"] = {"max_load": args.max_load, "max_spin": args.max_spin,
                   "max_wait": args.max_wait, "started_idle": started_idle,
                   "load_ok": load_ok, "spins_ok": spins_ok}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
