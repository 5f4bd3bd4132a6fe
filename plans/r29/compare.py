"""Check that two graft.PlanAudit dumps differ only where small global
sorts gathered to one partition instead of range-shuffling.

Usage: python3 compare.py <before.txt> <after.txt> [<before_again.txt> [<after_again.txt>]]

Both files are raw dumps, plain or gzipped. Each query's plan is split into its operator
tree and its per-operator detail sections, and exchanges are paired by
their order in the details. Where the before side plans
`rangepartitioning(...)` and the after side `SinglePartition`, the before
plan is rewritten as the swap predicts:
- the exchange's partitioning becomes `SinglePartition`;
- the `AQEShuffleRead` directly above its query stage is dropped, and the
  subtree under it moves up one level;
- that query stage's runtime `Statistics(...)` are masked on both sides
  (a one-partition shuffle writes differently sized blocks).
Trees are compared as (depth, node) lines, so the tree-drawing characters
that shift with the depth do not count, and RDD ids are masked. A node
that the initial and the final plan share is listed once; when AQE
re-plans, the same node is listed twice under two ids, so detail
sections equal but for their id are kept once. Both sides then go through
../r27/normalize.py.

Given second runs of either commit, queries whose two runs of one commit
differ as well are reported as unstable, not as failures (AQE picks a
join's broadcast side by which of its query stages finishes first).

Prints one line per query the swap explains, with the number of swapped
exchanges in its final and its initial plan, then every query that still
differs with its first differing line. Exits 1 if any stable query still
differs.
"""
import gzip
import os
import re
import subprocess
import sys
import tempfile

NORMALIZE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "r27", "normalize.py")


def blocks(path):
    text = (gzip.open(path, "rt") if path.endswith(".gz") else open(path)).read()
    parts = re.split(r"\n===== (\S+) =====\n", text)
    return dict(zip(parts[1::2], parts[2::2]))


def parse(block):
    """Tree as [depth, text, op id] rows and details as [op id, text] rows."""
    head, _, rest = block.partition("\n\n\n")
    tree = []
    for line in head.splitlines():
        m = re.search(r"[+:]- ", line)
        col = m.end() if m else len(line) - len(line.lstrip())
        text = line[col:]
        ids = re.findall(r"\((\d+)\)", text)
        tree.append([col // 3, text, ids[-1] if ids else None])
    details = []
    for sec in rest.strip("\n").split("\n\n"):
        m = re.match(r"^\((\d+)\) (\S+)", sec)
        details.append([m.group(1) if m else None, sec])
    return tree, details


def is_exchange(sec):
    return re.match(r"^\(\d+\) Exchange\n", sec) is not None


def canonical(before, after):
    """Both plans as comparable text, with the before plan rewritten by the
    swaps the after plan shows; and the number of exchanges swapped."""
    bt, bd = parse(before)
    at, ad = parse(after)
    bx = [d for d in bd if is_exchange(d[1])]
    ax = [d for d in ad if is_exchange(d[1])]
    swapped_b, swapped_a = set(), set()
    if len(bx) == len(ax):
        for b, a in zip(bx, ax):
            if "Arguments: rangepartitioning(" in b[1] and "Arguments: SinglePartition," in a[1]:
                b[1] = re.sub(r"Arguments: rangepartitioning\(.*\), ENSURE_REQUIREMENTS",
                              "Arguments: SinglePartition, ENSURE_REQUIREMENTS", b[1])
                swapped_b.add(b[0])
                swapped_a.add(a[0])
    dropped = set()
    for k in range(2, len(bt)):
        if bt[k][2] in swapped_b and bt[k - 1][1].startswith("ShuffleQueryStage") \
                and bt[k - 2][1].startswith("AQEShuffleRead"):
            dropped.add(bt[k - 2][2])
            j = k - 1
            while j < len(bt) and bt[j][0] > bt[k - 2][0]:
                bt[j][0] -= 1
                j += 1
    bt = [row for row in bt if row[2] not in dropped]
    bd = [row for row in bd if row[0] not in dropped]

    def render(tree, details, swapped):
        lines = []
        for k, (depth, text, _) in enumerate(tree):
            if text.startswith("ShuffleQueryStage") and k + 1 < len(tree) \
                    and tree[k + 1][2] in swapped:
                text = re.sub(r", Statistics\(.*\)$", ", Statistics(<masked>)", text)
            lines.append(f"{depth} {text}")
        seen, secs = set(), []
        for _, sec in details:
            body = re.sub(r"^\(\d+\) ", "", sec)
            if body not in seen:
                seen.add(body)
                secs.append(sec)
        text = "\n".join(lines) + "\n\n\n" + "\n\n".join(secs)
        return re.sub(r"RDD\[\d+\]", "RDD[N]", text)

    initial = next((k for k, row in enumerate(at) if "== Initial Plan ==" in row[1]), len(at))
    ids = [row[2] for row in at]
    final = sum(1 for op in swapped_a if op in ids[:initial])
    return render(bt, bd, swapped_b), render(at, ad, swapped_a), (final, len(swapped_a) - final)


def normalized(texts):
    """../r27/normalize.py over each text."""
    with tempfile.TemporaryDirectory() as tmp:
        src, out = os.path.join(tmp, "in.txt"), os.path.join(tmp, "out.txt")
        sep = "\n===== <query> =====\n"
        with open(src, "w") as f:
            f.write(sep.join(texts))
        subprocess.run([sys.executable, NORMALIZE, src, out], check=True)
        return open(out).read().split(sep)


def differences(before, after):
    """{query: first differing line} beyond the swaps, and {query: swaps}."""
    names = sorted(set(before) & set(after))
    bad = {n: "present on one side only" for n in sorted(set(before) ^ set(after))}
    pairs = [canonical(before[n], after[n]) for n in names]
    flat = normalized([t for b, a, _ in pairs for t in (b, a)])
    swaps = {}
    for i, name in enumerate(names):
        b, a = flat[2 * i], flat[2 * i + 1]
        if b == a:
            if sum(pairs[i][2]):
                swaps[name] = pairs[i][2]
            continue
        bl, al = b.splitlines(), a.splitlines()
        k = next(k for k in range(max(len(bl), len(al)))
                 if k >= len(bl) or k >= len(al) or bl[k] != al[k])
        bad[name] = (f"line {k}: {bl[k] if k < len(bl) else '<end>'!r} vs "
                     f"{al[k] if k < len(al) else '<end>'!r}")
    return bad, swaps


def main():
    before, after = blocks(sys.argv[1]), blocks(sys.argv[2])
    bad, swaps = differences(before, after)
    unstable = set()
    for first, again in zip((before, after), sys.argv[3:5]):
        unstable |= set(differences(first, blocks(again))[0])
    for name, (final, initial) in sorted(swaps.items()):
        print(f"swapped {name}: final plan {final}, initial plan {initial}")
    for name, why in sorted(bad.items()):
        print(f"{'UNSTABLE' if name in unstable else 'DIFFERS'} {name}: {why}")
    failing = [n for n in bad if n not in unstable]
    print(f"{len(before)} queries: {sum(1 for f, _ in swaps.values() if f)} swap in the final "
          f"plan, {sum(1 for f, _ in swaps.values() if not f)} in the initial plan only, "
          f"{len(bad) - len(failing)} unstable across reruns, {len(failing)} differ "
          f"beyond the swaps")
    sys.exit(1 if failing else 0)


if __name__ == "__main__":
    main()
