#!/usr/bin/env python3
"""Serial per-key oracle sweep driver for the big-corpus proofs.

Runs tools/check_oracle.py one key at a time (one heavy DuckDB at a
time — the disk/RAM discipline from the round-7/9 sf1+sf10 sweeps),
with a per-key timeout and wall clock, and writes a JSON artifact in
the evidence/decade/CORRECTNESS_SF10.json per-query shape.

Usage:
  sweep_keys.py <sfDir> <verifyOutDir> <artifactPath> [--timeout=900]
                [--digest-over=N] key1 key2 ...

Env (passed through to check_oracle.py): GRAFT_DUCK_MEM,
GRAFT_DUCK_TMP, GRAFT_DUCK_THREADS.
"""
import json
import re
import subprocess
import sys
import time
from pathlib import Path

args = [a for a in sys.argv[1:] if not a.startswith("--")]
opts = [a for a in sys.argv[1:] if a.startswith("--")]
sfdir, outdir, artifact = args[0], args[1], args[2]
keys = args[3:]
timeout = 900
digest = None
for o in opts:
    if o.startswith("--timeout="):
        timeout = int(o.split("=", 1)[1])
    if o.startswith("--digest-over="):
        digest = o.split("=", 1)[1]

tool = str(Path(__file__).parent / "check_oracle.py")
results = {}
for k in keys:
    cmd = [sys.executable, tool]
    if digest is not None:
        cmd.append(f"--digest-over={digest}")
    cmd += [sfdir, outdir, k]
    t0 = time.time()
    try:
        # DuckDB's memory-limit accounting is flaky near the cap at
        # sf10 scale (measured round 11: the identical statement
        # sequence alternates between 45s success and 'Failed to
        # allocate block' in fresh processes) — retry OOMs up to twice,
        # each attempt its own process/buffer pool
        for attempt in range(3):
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=timeout)
            # an OOM can also surface OUTSIDE check_oracle's per-query
            # try blocks (view setup, chain-cache materialization) as a
            # traceback on stderr with a nonzero exit — scan both
            # streams. Only TRANSIENT signatures retry (round-12
            # advice item 3): a blanket nonzero-exit/empty-stdout
            # retry re-ran deterministic failures (bad SQL, missing
            # corpus file) twice more at the full per-key timeout each.
            transient = ("Out of Memory Error",
                         "Failed to allocate",
                         "MemoryError", "std::bad_alloc")
            # signal death (kernel OOM-kill = -SIGKILL = -9) is also
            # transient: subprocess.run has no shell, so the familiar
            # 'Killed' text never reaches either captured stream — the
            # old text signature could not match (round-13 advice)
            oom = (p.returncode < 0
                   or any(sig in p.stdout or sig in p.stderr
                          for sig in transient))
            if not oom or attempt == 2:
                break
            print(f"RETRY {k}: DuckDB OOM/crash (attempt {attempt + 1})",
                  flush=True)
        secs = round(time.time() - t0, 1)
        out = p.stdout
        m = re.search(rf"OK\s+{re.escape(k)}: (\d+) rows", out)
        if p.returncode == 0 and m:
            results[k] = {"pass": True, "rows": int(m.group(1)),
                          "secs": secs}
            if "(digest)" in out:
                results[k]["digest"] = True
            print(f"OK   {k}: {m.group(1)} rows [{secs}s]", flush=True)
        else:
            line = next((ln for ln in out.splitlines()
                         if ln.startswith("FAIL")), out.strip()[:200])
            results[k] = {"pass": False, "secs": secs, "err": line}
            print(f"FAIL {k} [{secs}s]: {line}", flush=True)
    except subprocess.TimeoutExpired:
        secs = round(time.time() - t0, 1)
        results[k] = {"pass": None, "secs": secs,
                      "err": f"timeout after {timeout}s"}
        print(f"TIMEOUT {k} [{secs}s]", flush=True)

n_pass = sum(1 for v in results.values() if v.get("pass") is True)
summary = {"sf": sfdir, "n_pass": n_pass,
           "n_fail": sum(1 for v in results.values()
                         if v.get("pass") is False),
           "n_timeout": sum(1 for v in results.values()
                            if v.get("pass") is None),
           "queries": results}
Path(artifact).write_text(json.dumps(summary, indent=1, sort_keys=True))
print(f"\n{n_pass}/{len(keys)} pass -> {artifact}")
sys.exit(0 if n_pass == len(keys) else 1)
