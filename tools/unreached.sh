#!/bin/bash
# List every def, object, class, trait and case class in src/main that
# nothing in src/main reaches: dead operators that only their own specs
# run, so the DuckDB oracle never checks them.
#
# Usage: tools/unreached.sh        # prints file:line  kind  Owner.name
#
# Reachability is a mark-and-sweep over names, from these roots:
#   - objects with a `def main` (the mains), and `GraftExtensions`
#     (the `spark.sql.extensions` plugin); a name it registers as a SQL
#     function (`FunctionIdentifier("...")`) counts as reached too;
#   - names that perfbench/src uses (the benchmark builds against the
#     engine);
#   - inside a reached owner: `override`/`implicit` members, `apply`,
#     `unapply` and auxiliary constructors.
# A reached item makes its owners reached, and every identifier in its
# own code (its extent minus the extents of the items nested in it)
# reaches the items of that name. Comments, string literals (but not
# the `${...}` parts of interpolated strings, nor the `graft.x.Y.f(`
# calls that generated Java code names) and import clauses are blanked
# first, so a name in a scaladoc, a `require` message or an import
# reaches nothing; a name used only inside an unreached item's body is
# unreached too, to a fixpoint.
# Names resolve by spelling, not by type: `Owner.name` (or `M.name`
# after `val M = Owner`) reaches only that object's member, and any
# other use of `name` reaches every item so named. So the list errs
# toward missing dead code; but reflection and class names in strings
# are not followed, so confirm each listed item by hand.
# Only the outermost unreached item is listed; its members go with it.
#
# Keep-list: exactly these four items are listed on purpose, and
# RegistrySpec fails the test run when the list holds anything else:
#   - SparkEntry.entry: the entry point an external smoke check calls
#     (pattern counts over the sf0.001 fixture);
#   - JaroWinkler.jaro_winkler: the Column spelling of the registered
#     `jaro_winkler_similarity` SQL function; ExtensionsWindowsSpec pins
#     that both spellings agree;
#   - Scoring.Calibration.predict: the calibration result's public face
#     (probability of a match at a weight);
#   - Scoring.calibrateFull: the per-pair fit, ScoringSpec's +-1e-6
#     parity reference for the aggregated `calibrate`, and the
#     distributed fit `calibrationStats`' refusal message names.
set -euo pipefail
cd "$(dirname "$0")/.."
exec python3 - src/main/scala perfbench/src <<'PY'
import os, re, sys

def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)

aliases = {}  # `M` -> `Multimodal` for `val M = graft.ops.Multimodal`
CODEGEN_CALL = re.compile(r"\bgraft(\.\w+)+(?=\()")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|`[^`\n]+`")

def blank(src):
    """Source with comments, string literals and imports replaced by
    spaces (newlines kept, so offsets and line numbers still hold)."""
    out, i, n = list(src), 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def wipe_literal(a, b):
        # generated Java names its callee in a string: keep `graft.x.Y.f(`
        k = a
        for m in CODEGEN_CALL.finditer(src, a, b):
            wipe(k, m.start()); k = m.end()
        wipe(k, b)

    def code(i, stop_at_brace):
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                wipe(i, j); i = j
            elif src.startswith("/*", i):
                j, lvl = i + 2, 1
                while j < n and lvl:
                    if src.startswith("/*", j): lvl += 1; j += 2
                    elif src.startswith("*/", j): lvl -= 1; j += 2
                    else: j += 1
                wipe(i, j); i = j
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                i = string(i, interp)
            elif c == "'" and re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:i + 8]):
                j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
                wipe(i, j); i = j
            elif stop_at_brace and c == "{":
                depth += 1; i += 1
            elif stop_at_brace and c == "}":
                if depth == 0:
                    return i
                depth -= 1; i += 1
            else:
                i += 1
        return i

    def string(i, interp):
        triple = src.startswith('"""', i)
        j = i + (3 if triple else 1)
        start = j
        while j < n:
            if triple and src.startswith('"""', j):
                while src.startswith('""""', j):
                    j += 1
                wipe_literal(start, j); return j + 3
            if not triple and src[j] == "\\":
                j += 2; continue
            if not triple and src[j] in '"\n':
                wipe_literal(start, j); return j + 1
            if interp and src[j] == "$":
                if src.startswith("$$", j):
                    j += 2; continue
                if src.startswith("${", j):
                    wipe_literal(start, j)
                    j = code(j + 2, True) + 1
                    start = j; continue
                m = IDENT.match(src, j + 1)
                if m:
                    wipe_literal(start, j + 1)
                    j = start = m.end(); continue
            j += 1
        wipe_literal(start, n); return n

    code(0, False)
    text = "".join(out)
    # import clauses: `import a.b.{c, d => e}` over one or more lines
    for m in re.finditer(r"\bimport\s+[^\n{]*(\{[^}]*\})?", text):
        for a in re.finditer(r"(\w+)\s*=>\s*(\w+)", m.group(0)):
            aliases[a.group(2)] = a.group(1)
        wipe(m.start(), m.end())
    text = "".join(out)
    for a in re.finditer(r"\bval\s+(\w+)\s*=\s*(?:\w+\.)*([A-Z]\w*)[ \t]*$", text, re.M):
        aliases[a.group(1)] = a.group(2)
    return text

DEF = re.compile(r"\b(?:(case)\s+)?(def|object|class|trait)\s+(`[^`\n]+`|[A-Za-z_][A-Za-z0-9_]*)")
QUALIFIER = re.compile(r"(\w*)\s*\.\s*\Z")
MODS = {"override", "implicit", "private", "protected", "final", "sealed",
        "abstract", "lazy", "case"}

class Item:
    def __init__(self, path, text, m, line_starts):
        self.path, self.kind, self.name = path, ("case " if m.group(1) else "") + m.group(2), m.group(3)
        self.start = m.start()
        self.line = bisect(line_starts, self.start)
        pre = text[line_starts[self.line - 1]:self.start]
        pre = re.sub(r"\[[^\]]*\]", " ", pre)
        self.mods = set(re.findall(r"[a-z]+", pre)) & MODS
        self.end = extent_end(text, m.end(), line_starts[self.line - 1])
        self.parent, self.children = None, []

def bisect(starts, pos):
    lo, hi = 0, len(starts)
    while lo < hi:
        mid = (lo + hi) // 2
        if starts[mid] <= pos: lo = mid + 1
        else: hi = mid
    return lo

def indent(text, ls):
    k = ls
    while k < len(text) and text[k] == " ":
        k += 1
    return k - ls

def extent_end(text, i, line_start):
    """End of the item that starts on the line at line_start: the first
    newline with every bracket closed after which the next non-blank line
    is no deeper than the item's own line, or a bracket closing past it."""
    base, depth, n = indent(text, line_start), 0, len(text)
    while i < n:
        c = text[i]
        if c in "{([":
            depth += 1
        elif c in "})]":
            depth -= 1
            if depth < 0:
                return i
        elif c == "\n" and depth == 0:
            j = i + 1
            while j < n:
                e = text.find("\n", j)
                e = n if e < 0 else e
                if text[j:e].strip():
                    break
                j = e + 1
            if j >= n or indent(text, j) <= base:
                return i
        i += 1
    return n

def main():
    main_root, bench_root = sys.argv[1], sys.argv[2]
    texts, items = {}, []
    for p in scala_files(main_root):
        with open(p, encoding="utf-8") as f:
            t = blank(f.read())
        texts[p] = t
        ls = [0] + [k + 1 for k, c in enumerate(t) if c == "\n"]
        its = [Item(p, t, m, ls) for m in DEF.finditer(t)]
        for it in its:
            enclosing = [o for o in its if o is not it and o.start < it.start and it.end <= o.end]
            if enclosing:
                it.parent = max(enclosing, key=lambda o: o.start)
                it.parent.children.append(it)
        items += its
    by_name = {}
    for it in items:
        by_name.setdefault(it.name, []).append(it)

    live, work = set(), []

    def reach(it):
        while it is not None and id(it) not in live:
            live.add(id(it)); work.append(it)
            it = it.parent

    def reach_names(text, scope=None):
        # a def local to a def is visible only inside that def
        visible = set()
        while scope is not None:
            visible.add(id(scope)); scope = scope.parent
        for m in IDENT.finditer(text):
            named = [it for it in by_name.get(m.group(0), ()) if it.parent is None or
                     it.parent.kind != "def" or id(it.parent) in visible]
            # `x.name` reaches an object's member only when x is that object
            q = QUALIFIER.search(text[max(0, m.start() - 120):m.start()])
            if q:
                named = [it for it in named if it.parent is None or
                         it.parent.kind != "object" or
                         it.parent.name == aliases.get(q.group(1), q.group(1))]
            for it in named:
                reach(it)

    for p in scala_files(bench_root):
        with open(p, encoding="utf-8") as f:
            reach_names(blank(f.read()))
    # SQL function names the extensions register, e.g. the Column
    # spelling `DamerauLevenshtein.damerau_levenshtein`
    with open(os.path.join(main_root, "graft/GraftExtensions.scala"), encoding="utf-8") as f:
        for m in re.finditer(r'FunctionIdentifier\("(\w+)"\)', f.read()):
            for it in by_name.get(m.group(1), ()):
                reach(it)
    for it in items:
        if it.parent is None and (it.name == "GraftExtensions" or
                any(c.kind == "def" and c.name == "main" for c in it.children)):
            reach(it)
    while work:
        it = work.pop()
        text = texts[it.path]
        own, k = [], it.start
        for c in sorted(it.children, key=lambda c: c.start):
            own.append(text[k:c.start]); k = c.end
            if c.mods & {"override", "implicit"} or c.name in ("apply", "unapply", "unapplySeq", "this"):
                reach(c)
        own.append(text[k:it.end])
        # the `def name` header names the item itself; it is not a use
        reach_names(DEF.sub(" ", "".join(own), count=1), it)
    dead = [it for it in items if id(it) not in live and (it.parent is None or id(it.parent) in live)]
    for it in sorted(dead, key=lambda it: (it.path, it.start)):
        names, o = [], it
        while o is not None:
            names.append(o.name); o = o.parent
        print(f"{it.path}:{it.line}\t{it.kind}\t{'.'.join(reversed(names))}")

main()
PY
