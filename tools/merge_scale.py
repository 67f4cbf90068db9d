#!/usr/bin/env python3
"""Merge a partial ScaleBench artifact into the committed SCALE.json.

SCALE.json is assembled from MULTIPLE invocations (full ladder + partial
re-runs via SPARK_GRAFT_OPS): a fresh partial run must update only the
rungs it actually measured, never clobber rungs it skipped. This script
is that discipline as code:

  python3 tools/merge_scale.py SCALE.json fresh.json "note about the invocation"

- scales.xN.<op> rows present in fresh replace the committed ones;
  absent ones are left untouched (a partial run writes empty rungs).
- time_ratio entries present in fresh replace committed ones.
- q22_auto_account (the r16 x100 receipt) is kept as committed:
  ScaleBench does not emit it.
- ivf_index: replaced if present in fresh.
- embedding_auto_account: replaced if present in fresh.
- The invocation note is appended to _merge_log (a list), so every
  number in the artifact can be traced to the run that produced it.
"""
import json
import sys


def main():
    base_path, fresh_path, note = sys.argv[1], sys.argv[2], sys.argv[3]
    with open(base_path) as f:
        base = json.load(f)
    with open(fresh_path) as f:
        fresh = json.load(f)

    for scale, rows in fresh.get("scales", {}).items():
        if not rows:
            continue
        base.setdefault("scales", {}).setdefault(scale, {}).update(rows)
    for op, ratio in fresh.get("time_ratio", {}).items():
        base.setdefault("time_ratio", {})[op] = ratio
    if "ivf_index" in fresh:
        base["ivf_index"] = fresh["ivf_index"]
    if "embedding_auto_account" in fresh:
        base["embedding_auto_account"] = fresh["embedding_auto_account"]
    base.setdefault("_merge_log", []).append(note)

    with open(base_path, "w") as f:
        json.dump(base, f, indent=1)
        f.write("\n")
    print(f"merged {fresh_path} -> {base_path}")


if __name__ == "__main__":
    main()
