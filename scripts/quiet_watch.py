"""Quiet-window harvester: probe the shared host, and when a window is
quiet enough to measure the ENGINE (not the neighbors), run the next
unit from the round-4 measurement queue.  Appends every attempt —
including skipped noisy probes — to scripts/quiet_r4.jsonl, so the
final BENCH numbers carry their ambient-condition evidence inline
(VERDICT r3 tasks 3-5: the record must distinguish noise from
regression).

Queue units (cycled):
  headline : 16M vertices / 52.5M edges x 10 rounds, local[32] — the
             eps headline (same shape as bench.py part 1b)
  abq      : mis + ktruss at sf0.1, 2 interleaved reps each
  pair     : one interleaved 1<->4-core scaling pair at 13.1M edges
  cluster  : 1 vs 4 single-core EXECUTOR JVMs (standalone cluster) at
             13.1M edges — the north rule's literal run mode

Quiet gate: loadavg1 < 6 AND 8-way aggregate membw > 20 GB/s.

Usage: python scripts/quiet_watch.py [max_units] [sleep_sec]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, os.environ.get("QUIET_OUT", "quiet_r4.jsonl"))

sys.path.insert(0, HERE)
from membw_probe import probe  # noqa: E402


def _log(rec: dict) -> None:
    rec["ts"] = round(time.time())
    with open(OUT, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)


def _run(cmd: list[str], timeout: int) -> tuple[int, str]:
    try:
        r = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout, cwd=REPO
        )
        return r.returncode, (r.stdout or "")[-4000:]
    except subprocess.TimeoutExpired:
        return -9, "timeout"


def unit_headline() -> dict:
    code, out = _run(
        [sys.executable, "scripts/profile_pagerank.py", "16000000", "10", "32", "10"],
        1800,
    )
    line = next(
        (ln for ln in out.splitlines() if ln.startswith('{"wall"')), "{}"
    )
    return {"unit": "headline", "rc": code, "result": json.loads(line or "{}")}


def unit_abq() -> dict:
    code, out = _run(
        [sys.executable, "scripts/query_ab.py", "/root/testdata/sf0.1", "2", "mis", "ktruss"],
        1500,
    )
    rows = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
    return {"unit": "abq", "rc": code, "result": rows}


def unit_pair(i: int) -> dict:
    code, out = _run(
        [sys.executable, "scripts/scaling_pair.py", str(i), "4000000", "10", "1", "4"],
        2400,
    )
    return {"unit": "pair", "rc": code, "tail": out[-600:]}


def unit_cluster(rep: int) -> dict:
    code, out = _run(["bash", "scripts/cluster_scaling4.sh", str(rep)], 3600)
    return {"unit": "cluster", "rc": code, "tail": out[-800:]}


def main() -> None:
    max_units = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sleep_sec = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    queue = ["headline", "cluster", "abq", "pair", "headline", "cluster",
             "pair", "abq", "headline", "pair"]
    done = 0
    idx = 0
    pair_i = 40  # continue pair numbering past round 3's
    while done < max_units and idx < 200:
        p = probe()
        quiet = p["load"] < 6.0 and p["bw8"] > 20.0
        if not quiet:
            _log({"skip": True, "probe": p, "next_unit": queue[done % len(queue)]})
            time.sleep(sleep_sec)
            idx += 1
            continue
        unit = queue[done % len(queue)]
        if unit == "headline":
            rec = unit_headline()
        elif unit == "abq":
            rec = unit_abq()
        elif unit == "pair":
            rec = unit_pair(pair_i)
            pair_i += 1
        else:
            rec = unit_cluster(done)
        rec["probe_before"] = p
        rec["probe_after"] = probe()
        _log(rec)
        done += 1
        idx += 1
    _log({"done": done})


if __name__ == "__main__":
    main()
