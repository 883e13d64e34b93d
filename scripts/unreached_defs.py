#!/usr/bin/env python3
"""Name-based reachability scan of `src/main`.

Lists every `def` (and every top-level `class` / `object` / `trait`) in
`src/main` whose name nothing outside its own definition mentions:

  - roots: all of `src/main` except the definition itself, plus
    `layerbench/src/main`, `scripts/ServeHarness.scala` and
    `bin/graft-submit`;
  - comments and the literal text of strings are stripped first
    (interpolated `$x` / `${...}` code is kept), so a name that only a
    scaladoc link or a SQL string mentions does not count;
  - `override` members, `main`, objects holding a `main` and the names
    Scala calls implicitly (`apply`, `unapply`, `update`) are skipped.

Each finding prints as `file:line name` with `[test]` when `src/test`
mentions the name (a spec reaches it) or `[none]` when nothing does.

Blind spots, by construction: overloads share a name (one reached
overload hides the others), and a name used only through reflection (a
class named in a conf string, e.g. `spark.sql.extensions`) is invisible.

Usage:
  python3 scripts/unreached_defs.py [--check | --table] [repo_root]

`--check` exits 1 when a printed name is not on `KEEP`, when a `KEEP`
entry is stale (no longer defined in `src/main`), or when README.md's
"Library surface" table is not `KEEP` (`--table` prints it). A `KEEP`
entry may be reached (layerbench calls `fetchPayloads`): the table
names the surface kept on purpose, reached or not.
"""
import os
import re
import sys

# The library surface kept on purpose although no query, main, harness
# or launcher reaches it. README.md "Library surface" lists this table.
KEEP = {
    # entry points called from outside src/main
    "fetchPayloads": "`WaqiSource`: the paper's extract step; layerbench's waqi_etl fetch",
    "jdbcPerKey": "`Sinks`: the paper's per-pollutant JDBC load; layerbench's waqi_etl load",
    "entry": "`SparkEntry`: the flagship sf0.001 query, smoke-checked for rows > 0",
    "HttpWaqiTransport": "`sources`: the paper's live WAQI HTTP transport (ROADMAP item 6)",
    # reference implementations specs compare the fast paths against
    "dotFold": "`VectorFunctions`: built-in fold that `dot` must equal bit for bit",
    "cosine": "`VectorFunctions`: the Column-API cosine over `dot` (library surface)",
    "shingles": "`TextFunctions`: built-in shingles that `sortedShingles` must equal",
    "jaccard": "`TextFunctions`: built-in Jaccard that `jaccardSorted` must equal",
    # operator entry points DEPLOY.md names
    "gcArtifacts": "`Artifacts`: maintenance-window garbage collection (DEPLOY.md)",
    "zOrderWrite": "`ScalePatterns`: z-order lake layout write (DEPLOY.md)",
    "trainQualityClassifier": "`Quality`: in-engine classifier training (DEPLOY.md)",
    # starting points of open ROADMAP items
    "withQualityObservation": "`Quality`: the one `Dataset.observe` use (ROADMAP item 5)",
    "UntilPair": "`Iterate`: the two-back stop mode for LPA's 2-cycle (ROADMAP item 4)",
    "throttleStream": "`StreamingOps` streaming twin (ROADMAP item 5: `lastProgress`)",
    "holdoutStream": "`StreamingOps` streaming twin (ROADMAP item 5)",
    "dedupStream": "`StreamingOps` streaming twin (ROADMAP item 5)",
    "purchaseErrorStream": "`StreamingOps` streaming twin, inner join (ROADMAP item 5)",
    "purchaseErrorStreamOuter": "`StreamingOps` streaming twin, outer join (ROADMAP item 5)",
    "idempotentParquetStream": "`StreamingOps` streaming twin (ROADMAP item 5)",
    "ivfPqServedStream": "`Similarity` streaming twin (ROADMAP item 5)",
    "ivfExactServedStream": "`Similarity` streaming twin (ROADMAP item 5)",
    "semDedupIncrementalStream": "`Similarity` streaming twin (ROADMAP item 5)",
    "mediaAdmissionStream": "`Multimodal` streaming twin (ROADMAP item 5)",
    "nightlyAdmissionDrain": "`Ingest` streaming twin (ROADMAP item 5)",
    "GraftExtensions": "`plans`: installs `RewriteDotProductRule` and the `graft_*` SQL "
                       "functions; only the `spark.sql.extensions` conf string names it "
                       "(ROADMAP item 1)",
}

IMPLICIT = {"main", "apply", "unapply", "unapplySeq", "update"}

DEF_RE = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
TYPE_RE = re.compile(
    r"^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?|implicit)\s+)*"
    r"(?:class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip(src):
    """Blank comments and string literal text, keeping line breaks and
    the code inside `${...}` / `$name` of interpolated strings."""
    out, i, n = [], 0, len(src)

    def keep_newlines(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(keep_newlines(src[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            close = '"""' if triple else '"'
            j = i + len(close)
            buf = []
            while j < n and not src.startswith(close, j):
                if not triple and src[j] == "\\":
                    buf.append("  ")
                    j += 2
                    continue
                if not triple and src[j] == "\n":
                    break
                if interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    buf.append(" " + strip(src[j + 2:k - 1]) + " ")
                    j = k
                    continue
                if interp and src[j] == "$":
                    m = WORD_RE.match(src, j + 1)
                    if m:
                        buf.append(" " + m.group(0))
                        j = m.end()
                        continue
                buf.append("\n" if src[j] == "\n" else " ")
                j += 1
            if triple:
                while src.startswith('"', j + 3):   # """...""""
                    j += 1
            out.append(" " * len(close) + "".join(buf) + " " * len(close))
            i = j + len(close)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1      # char literal: 'x', '\n', '\u0001'
            out.append(" " * (j - i))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip())


def definitions(path, lines):
    """(name, line_no, first, last) for each def / type in a file; lines
    first..last (0-based, inclusive) are its own definition."""
    found = []
    for no, line in enumerate(lines):
        body = line.strip()
        m = DEF_RE.search(line)
        t = TYPE_RE.match(body)
        if not (m or t):
            continue
        if m and re.search(r"\boverride\b", line[:m.start()]):
            continue
        name = (m or t).group(1)
        if name in IMPLICIT:
            continue
        base, last = indent(line), no
        for k in range(no + 1, len(lines)):
            nxt = lines[k]
            if not nxt.strip():
                continue
            if indent(nxt) > base or (indent(nxt) == base and
                                      re.match(r"^[)}\]]", nxt.strip())):
                last = k
            else:
                break
        if t and not m and any(re.search(r"\bdef\s+main\b", lines[k])
                               for k in range(no, last + 1)):
            continue          # an object holding a `main` is an entry point
        found.append((name, no, no, last))
    return found


def scala_files(root, sub):
    top = os.path.join(root, sub)
    for d, _, fs in os.walk(top):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def words(text):
    counts = {}
    for w in WORD_RE.findall(text):
        counts[w] = counts.get(w, 0) + 1
    return counts


def scan(root):
    main = {p: strip(open(p, encoding="utf-8").read()).split("\n")
            for p in sorted(scala_files(root, "src/main"))}
    extra = [os.path.join(root, "scripts/ServeHarness.scala"),
             os.path.join(root, "bin/graft-submit")]
    extra += list(scala_files(root, "layerbench/src/main"))
    outside = {}
    for p in extra:
        if os.path.exists(p):
            text = open(p, encoding="utf-8").read()
            if p.endswith(".scala"):
                text = strip(text)
            for w, c in words(text).items():
                outside[w] = outside.get(w, 0) + c
    tests = {}
    for p in scala_files(root, "src/test"):
        for w in words(strip(open(p, encoding="utf-8").read())):
            tests[w] = True

    total = {}
    for lines in main.values():
        for w, c in words("\n".join(lines)).items():
            total[w] = total.get(w, 0) + c

    defs = [(p, d) for p, lines in main.items() for d in definitions(p, lines)]
    # every `def name` / `class name` token is a definition, not a use
    decl = {}
    for p, (name, _, _, _) in defs:
        decl[name] = decl.get(name, 0) + 1

    unreached = []
    for p, (name, no, first, last) in defs:
        own = words("\n".join(main[p][first:last + 1])).get(name, 0)
        # uses = all mentions - own span - the other definitions' tokens
        uses = total.get(name, 0) - own - (decl[name] - 1) + outside.get(name, 0)
        if uses <= 0:
            unreached.append((os.path.relpath(p, root), no + 1, name,
                              name in tests))
    return unreached, {d[0] for _, d in defs}


def keep_table():
    """KEEP as the markdown table README.md's "Library surface" shows."""
    rows = ["| name | why it stays |", "|---|---|"]
    rows += [f"| `{name}` | {why} |" for name, why in KEEP.items()]
    return "\n".join(rows)


def readme_drift(root):
    """True when README.md's "Library surface" table is not KEEP's."""
    text = open(os.path.join(root, "README.md"), encoding="utf-8").read()
    return keep_table() not in text


def main():
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    if "--table" in flags:
        print(keep_table())
        return
    unreached, defined = scan(root)
    bad = []
    for path, line, name, tested in unreached:
        kept = name in KEEP
        print(f"{path}:{line} {name} [{'test' if tested else 'none'}]"
              + (" KEEP" if kept else ""))
        if not kept:
            bad.append(name)
    stale = sorted(k for k in KEEP if k not in defined)
    for k in stale:
        print(f"stale KEEP entry: {k} (not defined in src/main)")
    print(f"{len(unreached)} unreached, {len(unreached) - len(bad)} on KEEP, "
          f"{len(bad)} not on KEEP, {len(stale)} stale KEEP entries",
          file=sys.stderr)
    if "--check" in flags:
        drift = readme_drift(root)
        if drift:
            print("README.md \"Library surface\" table differs from KEEP "
                  "(regenerate it with --table)", file=sys.stderr)
        if bad or stale or drift:
            sys.exit(1)


if __name__ == "__main__":
    main()
