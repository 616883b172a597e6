#!/usr/bin/env python3
"""Compare the plan shapes of two `graft.tools.Explain` dumps.

Each dump is split at its `===== <query> =====` headers and every query's
formatted physical plan is reduced to its operator tree plus each
operator's detail lines, with what differs between two runs of one plan
dropped: expression ids (`#123L`), `plan_id`s, operator numbers, runtime
`Statistics(...)`, RDD ids, lambda class names, lambda variable numbers
(`lambda x_22`, from a JVM-wide counter), source line numbers and the
checkout directory in the paths of artifacts under `target/`. Spark's
distinct-aggregate rewrite numbers its `Expand` groups (`gid`) and orders
their columns by expression-id hashes, so a run whose ids drift permutes
them: each `Expand`'s groups are put in one canonical order (columns by
name, groups by their columns), in its projections and in every later
`gid`-bearing line of the query.
The two reductions are diffed query by query; any difference (including a
query present in one dump only) prints a unified diff and exits 1.

Usage: plan_shape.py [--tree] [--only PREFIX,...] DUMP_A DUMP_B
       plan_shape.py --self-check DUMP

  --tree        compare the operator trees only, not the detail lines
  --only        compare only the queries whose names start with a prefix
  --self-check  check the script on DUMP: DUMP against itself must give no
                difference, DUMP with one lambda variable renumbered or
                one Expand's groups permuted must give none either, and
                DUMP with one Exchange removed must differ

Make a dump with `runMain graft.tools.Explain` (one sf dir, one setting).
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
NORMALIZE = [
    (re.compile(r"#\d+L?"), ""),                      # expression ids
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),  # lambda variable numbers
    (re.compile(r"\s*\[plan_id=\d+\]"), ""),
    (re.compile(r",? ?Statistics\([^)]*\)"), ""),     # runtime sizes
    (re.compile(r"\$\$Lambda\$?[^@\s,]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala"),
    (re.compile(r"file:\S*?/target/"), "file:<checkout>/target/"),  # artifacts
    (re.compile(r"(operator id:?|operator id =) \d+"), r"\1"),
    (re.compile(r"^\(\d+\) "), ""),                   # detail headers
    (re.compile(r"(\S) \(\d+\)"), r"\1"),             # tree operator numbers
]


def split_top(s):
    """Split `s` at the commas outside brackets, parentheses and quotes."""
    parts, depth, quoted, start = [], 0, False, 0
    for i, c in enumerate(s):
        if c == "'":
            quoted = not quoted
        elif quoted:
            continue
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*)\]$")
GID = re.compile(r"\bgid = (\d+)\b")


def reorder_expands(lines, choose):
    """Rewrite the groups of each distinct-aggregate `Expand` detail in
    `lines` (expression ids already stripped) into the order `choose` picks.

    `choose(names)` gets the group columns' names in dump order and returns
    them in the wanted order; the groups are numbered by their columns in
    that order. The projections, and each later line that carries `gid` up
    to the next `Expand`, are rewritten to match."""
    out = list(lines)
    for i, line in enumerate(out):
        m = EXPAND_ARGS.match(line)
        if not m:
            continue
        projs = [split_top(p[1:-1]) for p in split_top(m.group(1))]
        outs = split_top(m.group(2))
        if "gid" not in outs:
            continue
        g = outs.index("gid")
        # a group column is set in exactly one projection, of a distinct group
        cols = [j for j in range(len(outs)) if j != g and
                [p[g] for p in projs if p[j] != "null"] not in ([], ["0"])
                and sum(p[j] != "null" for p in projs) == 1]
        wanted = choose([outs[j] for j in cols])
        if len(cols) < 2 or wanted == [outs[j] for j in cols]:
            continue
        src = {j: cols[[outs[c] for c in cols].index(n)] for j, n in zip(cols, wanted)}
        perm = [src.get(j, j) for j in range(len(outs))]
        groups = sorted((p for p in projs if p[g] != "0"),
                        key=lambda p: [wanted.index(outs[j]) for j in cols if p[j] != "null"])
        gids = {p[g]: str(k + 1) for k, p in enumerate(groups)}
        new = [[p[j] for j in perm] for p in [q for q in projs if q[g] == "0"] + groups]
        for p in new:
            p[g] = gids.get(p[g], p[g])
        out[i] = ("Arguments: [" + ", ".join("[" + ", ".join(p) + "]" for p in new) +
                  "], [" + ", ".join(outs[j] for j in perm) + "]")
        run = ", ".join(outs[j] for j in cols)
        for k in range(i + 1, len(out)):
            if EXPAND_ARGS.match(out[k]):
                break
            if "gid" in out[k]:
                out[k] = GID.sub(lambda x: "gid = " + gids.get(x.group(1), x.group(1)),
                                 out[k].replace(run, ", ".join(wanted)))
    return out


def split_queries(text):
    queries, name, lines = {}, None, []
    for line in text.splitlines():
        m = HEADER.match(line)
        if m:
            if name is not None:
                queries[name] = lines
            name, lines = m.group(1), []
        elif name is not None:
            lines.append(line)
    if name is not None:
        queries[name] = lines
    return queries


def reduce_plan(lines, tree_only):
    out = []
    in_tree = True
    for line in lines:
        if in_tree and line.startswith("(") and re.match(r"^\(\d+\) ", line):
            in_tree = False
        if not in_tree and tree_only:
            break
        for pat, rep in NORMALIZE:
            line = pat.sub(rep, line)
        line = line.rstrip()
        if line:
            out.append(line)
    return out if tree_only else reorder_expands(out, sorted)


def normalize_text(text):
    """`text` with every line normalised, query headers kept."""
    out = []
    for line in text.splitlines():
        if not HEADER.match(line):
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
        out.append(line)
    return "\n".join(out)


def compare(text_a, text_b, tree_only=False, only=(), out=sys.stdout):
    """Returns the names of the queries whose reduced plans differ."""
    a, b = split_queries(text_a), split_queries(text_b)
    names = sorted(set(a) | set(b))
    if only:
        names = [n for n in names if any(n.startswith(p) for p in only)]
    differ = []
    for n in names:
        ra = reduce_plan(a[n], tree_only) if n in a else ["<missing>"]
        rb = reduce_plan(b[n], tree_only) if n in b else ["<missing>"]
        if ra != rb:
            differ.append(n)
            out.write("".join(difflib.unified_diff(
                [x + "\n" for x in ra], [x + "\n" for x in rb],
                fromfile=f"a/{n}", tofile=f"b/{n}")))
    return differ, len(names)


def self_check(text):
    class Sink:
        def write(self, _):
            pass
    same, n = compare(text, text, out=Sink())
    lines = text.splitlines()
    hit = next((i for i, l in enumerate(lines) if re.search(r"\+- Exchange \(\d+\)", l)), None)
    if hit is None:
        print("self-check: the dump holds no Exchange to remove")
        return 1
    cut = "\n".join(lines[:hit] + lines[hit + 1:])
    cut_differ, _ = compare(text, cut, out=Sink())
    lam = re.search(r"\blambda \w+?_(\d+)\b", text)
    if lam is None:
        print("self-check: the dump holds no lambda variable to renumber")
        return 1
    # every use of the variable gets the new number, as in a later run
    old = lam.group(0)
    new = old[:-len(lam.group(1))] + str(int(lam.group(1)) + 1000)
    renumbered = re.sub(re.escape(old) + r"\b", new, text)
    lam_differ, _ = compare(text, renumbered, out=Sink())
    # the first Expand with two or more groups, its groups in reverse order
    # (as in a run whose expression ids drift); nothing else may change
    plain = normalize_text(text).split("\n")
    at = next((i for i, l in enumerate(plain)
               if reorder_expands([l], lambda ns: ns[::-1]) != [l]), None)
    if at is None:
        print("self-check: the dump holds no Expand with two groups to permute")
        return 1
    end = next((i for i in range(at + 1, len(plain)) if HEADER.match(plain[i])), len(plain))
    permuted = plain[:at] + reorder_expands(plain[at:end], lambda ns: ns[::-1]) + plain[end:]
    perm_differ, _ = compare(text, "\n".join(permuted), out=Sink())
    raw_differ = [i for i in range(at, end) if permuted[i] != plain[i]]
    ok = (not same and not lam_differ and not perm_differ and raw_differ
          and len(cut_differ) == 1)
    print(f"self-check: {n} queries; against itself {len(same)} differ; "
          f"with {old} renumbered {len(lam_differ)} differ; "
          f"with one Expand's groups permuted ({len(raw_differ)} lines) "
          f"{len(perm_differ)} differ; "
          f"with one Exchange removed {len(cut_differ)} differ ({', '.join(cut_differ)})"
          f" -> {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


def usage():
    return __doc__[__doc__.index("Usage:"):__doc__.index("Make a dump")].rstrip()


def main(argv):
    tree_only, only, check, paths = False, (), None, []
    i = 0
    while i < len(argv):
        arg = argv[i]
        if arg == "--tree":
            tree_only = True
        elif arg in ("--only", "--self-check") and i + 1 < len(argv):
            if arg == "--only":
                only = tuple(p for p in argv[i + 1].split(",") if p)
            else:
                check = argv[i + 1]
            i += 1
        elif arg.startswith("-"):
            sys.exit(usage())
        else:
            paths.append(arg)
        i += 1
    if check is not None:
        if paths or tree_only or only:
            sys.exit(usage())
        with open(check) as f:
            return self_check(f.read())
    if len(paths) != 2:
        sys.exit(usage())
    with open(paths[0]) as fa, open(paths[1]) as fb:
        differ, n = compare(fa.read(), fb.read(), tree_only, only)
    print(f"{n} queries compared, {len(differ)} differ" +
          (": " + ", ".join(differ) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
