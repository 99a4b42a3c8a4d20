#!/usr/bin/env python3
"""Normalise graft.Explain output so two runs' plans compare with one diff.

graft.Explain prints `========== <gate> ==========` followed by the
formatted physical plan. Between two builds the same plan differs in ids
the session hands out in creation order; this rewrites each, per gate, to
its order of first appearance in that gate's plan, so equal structure
prints equal text and a shared reference (two scans of one staged RDD)
stays visibly shared:

  expression ids      `__v#1929L`          -> `__v#1L`
  exchange plan ids   `[plan_id=5778]`     -> `[plan_id=1]`
  RDD ids             `MapPartitionsRDD[278]` -> `MapPartitionsRDD[1]`
  lambda variables    `lambda x_78#3`      -> `lambda x_1#3`
                      (one counter per JVM: a gate built earlier in the
                      registry shifts every later gate's names)
  call-site lines     `at Chain.scala:129` -> `at Chain.scala:N`
  stage-name UUIDs    `psi_counts_1a2b3c4d`   -> `psi_counts_XXXXXXXX`
  temp-dir suffixes   `graft_gate_wh1095622790902392` -> `graft_gate_whN`
  lambda instances    `Vocab$$$Lambda$7305/0x00007fbb91a35388@1659da46`
                                               -> `Vocab$$$Lambda`

Usage:
  python3 tools/plan_norm.py PLANS            normalised text on stdout
  python3 tools/plan_norm.py BEFORE AFTER     names of the gates whose
                                              normalised plans differ
                                              (exit 1 when any does)

A whole-registry plan diff between two checkouts A and B:
  (cd A && sbt -batch "runMain graft.Explain $SF_DIR") > a.txt
  (cd B && sbt -batch "runMain graft.Explain $SF_DIR") > b.txt
  diff <(python3 tools/plan_norm.py a.txt) <(python3 tools/plan_norm.py b.txt)
"""
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")
IDS = [
    (re.compile(r"#(\d+)"), lambda n: "#%d" % n),
    (re.compile(r"plan_id=(\d+)"), lambda n: "plan_id=%d" % n),
    (re.compile(r"RDD\[(\d+)\]"), lambda n: "RDD[%d]" % n),
    (re.compile(r"(?<=lambda [a-z])_(\d+)"), lambda n: "_%d" % n),
]
FIXED = [
    (re.compile(r"_[0-9a-f]{8}\b"), "_XXXXXXXX"),
    (re.compile(r"(?<=[A-Za-z_])\d{12,}"), "N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(?<=\.scala):\d+"), ":N"),
]


def gates(path):
    """(name, lines) per gate block, in file order; lines before the first
    header are dropped."""
    out, name, lines = [], None, []
    with open(path, encoding="utf-8") as f:
        for line in f.read().split("\n"):
            m = HEADER.match(line)
            if m:
                if name is not None:
                    out.append((name, lines))
                name, lines = m.group(1), []
            elif name is not None:
                lines.append(line)
    if name is not None:
        out.append((name, lines))
    return out


def normalise(lines):
    text = "\n".join(lines).rstrip("\n")
    for rx, fmt in IDS:
        seen = {}
        text = rx.sub(
            lambda m: fmt(seen.setdefault(m.group(1), len(seen) + 1)), text)
    for rx, to in FIXED:
        text = rx.sub(to, text)
    return text


def main(argv):
    if len(argv) == 1:
        for name, lines in gates(argv[0]):
            print("========== %s ==========" % name)
            print(normalise(lines))
        return 0
    if len(argv) == 2:
        before, after = (dict((n, normalise(l)) for n, l in gates(p))
                         for p in argv)
        differ = sorted(n for n in before.keys() | after.keys()
                        if before.get(n) != after.get(n))
        for n in differ:
            print(n)
        print("%d of %d gates differ" % (len(differ),
                                         len(before.keys() | after.keys())),
              file=sys.stderr)
        return 1 if differ else 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
