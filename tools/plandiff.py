#!/usr/bin/env python3
"""Plan-identity check: diff two graft.PlanDump output directories.

    python3 tools/plandiff.py A B [name-prefix ...]

A and B are directories of `<query>_<suffix>.txt` files, as written by
`sbt "runMain graft.PlanDump <tag> <suffix> <q1,q2,...> [sfDir]"` (into
plans/<tag>/) from two builds of the engine. Files are paired by name.
Before comparing, every plan is normalized for the identifiers that
change from one JVM (or one run) to the next without the plan changing:

  - expression ids           `name#123`            -> `name#N`
  - plan ids                 `plan_id=7`           -> `plan_id=N`
  - RDD / checkpoint ids     `MapPartitionsRDD[42]`, `rdd_42`, `RDD 42`
  - lambda variable counters `lambda x_17`          -> `lambda x_N`
  - JVM identity hashes      `[D@1a2b3c`            -> `[D@H`
  - codegen-stage ids        `[codegen id : 8]`     -> `[codegen id : N]`
  - AQE query-stage ids      `Arguments: 9`         -> `Arguments: N`
  - random scratch dirs      `graft_ck3060760675624958355` -> `graft_ckN`
  - JVM lambda class names   `$$Lambda$6479/0x7f16…` -> `$$Lambda/0xH`
  - source lines of RDD call sites `at Dedup.scala:952` -> `at Dedup.scala:N`
    (a checkpointed relation is named after the line that built it, so
    any edit above that line renames it)

Prints IDENTICAL or a unified diff per pair, lists files present on one
side only, and exits 1 if any pair is not IDENTICAL or is unpaired.

AQE picks a broadcast join's build side from whichever side's stage
finishes first, so two runs of one build can differ in it (q2, d8). A
pair whose plans differ only there is reported as BUILD-SIDE FLIP,
counted apart from DIFFERS: its BuildLeft/BuildRight sequence differs,
and with what AQE rearranges around such a join taken out (build sides,
node numbers, codegen stages, tree drawing, query-stage wrappers,
broadcast and planner-inserted ENSURE_REQUIREMENTS exchanges) both
plans hold the same lines, compared as a multiset. Exchanges the query
placed itself, such as round-robin fan-outs, still count, so a flip
plus any other change stays DIFFERS.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # \b: unanchored, \w* rescans a word run from each of its characters
    # (quadratic: minutes on a plan with a 150 KB literal line)
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_N"),
    (re.compile(r"\bRDD \d+"), "RDD N"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # a query stage's only argument is its id (other operators print
    # words or lists there)
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: N"),
    # Files.createTempDirectory appends a random unsigned long to the prefix
    (re.compile(r"(/[A-Za-z_][\w-]*?)\d{10,}(?=[/\],\s]|$)", re.M), r"\1N"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$$Lambda/0xH"),
    (re.compile(r"\b(at \w+\.scala):\d+"), r"\1:N"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


BUILD = re.compile(r"\bBuild(Left|Right)\b")
TREE = re.compile(r"^[\s:|+*-]*")
NODE = re.compile(r"\(\d+\)")
CODEGEN = re.compile(r" \[codegen id : N\]")
# what AQE rearranges around a join whose build side it flips
MOVED = ("BroadcastQueryStage", "BroadcastExchange", "ShuffleQueryStage",
         "AQEShuffleRead")


def without_build_side(lines):
    """The plan's lines, sorted, with what a build-side flip moves taken
    out: build sides, node numbers, codegen stages, tree drawing, the stage
    wrappers and the planner's own (ENSURE_REQUIREMENTS) exchanges, whose
    detail blocks are dropped whole. Exchanges a query placed itself
    (round-robin fan-outs) keep their detail blocks."""
    text = CODEGEN.sub("", NODE.sub("(N)", BUILD.sub("Build", "".join(lines))))
    out = []
    for block in text.split("\n\n"):
        head = block.split("\n", 1)[0]
        name = head[4:] if head.startswith("(N) ") else None
        if name is None:
            out += [TREE.sub("", ln) for ln in block.split("\n")
                    if not TREE.sub("", ln).startswith(MOVED + ("Exchange",))]
        elif not (name.startswith(MOVED) or
                  name.startswith("Exchange") and "ENSURE_REQUIREMENTS" in block):
            out += block.split("\n")
    return sorted(ln for ln in out if ln.strip())


def build_side_flip(la, lb):
    sides = [BUILD.findall("".join(x)) for x in (la, lb)]
    return sides[0] != sides[1] and \
        without_build_side(la) == without_build_side(lb)


def plans(d, prefixes):
    return {f for f in os.listdir(d)
            if f.endswith(".txt") and
            (not prefixes or any(f.startswith(p) for p in prefixes))}


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip())
        return 2
    a, b, prefixes = argv[1], argv[2], argv[3:]
    pa, pb = plans(a, prefixes), plans(b, prefixes)
    same = flips = bad = 0
    for f in sorted(pa ^ pb):
        print(f"ONLY IN {a if f in pa else b}: {f}")
        bad += 1
    for f in sorted(pa & pb):
        with open(os.path.join(a, f)) as fa, open(os.path.join(b, f)) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            print(f"IDENTICAL {f}")
            same += 1
            continue
        if build_side_flip(la, lb):
            print(f"BUILD-SIDE FLIP {f}")
            flips += 1
        else:
            print(f"DIFFERS   {f}")
            bad += 1
        sys.stdout.writelines(difflib.unified_diff(
            la, lb, os.path.join(a, f), os.path.join(b, f), n=1))
    print(f"{same} identical, {flips} build-side flips, {bad} differ "
          "or unpaired")
    return 1 if flips or bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
