#!/usr/bin/env python3
"""List the main-code definitions that no entry point reaches.

Usage: python3 tools/unreached.py [--why NAME] [repo-root]

Scans the `object`, `class`, `trait` and `def` definitions in
src/main/**/*.scala. A definition's own text is its span minus the spans
of the definitions nested in it; a file's header (package clause and
imports) belongs to its top-level definitions. A definition is reached
when it is a root, or when its name occurs as an identifier, outside
comments and string literals, in the own text of a reached definition
other than itself whose enclosing definitions are all reached. The scan
iterates to a fixpoint.

Roots:
  - every `def main`, with the objects that hold it;
  - every class named by its qualified name in src/main/resources or in
    a string literal in main code (a Hadoop or Spark conf value);
  - every class that extends `SparkSessionExtensions => Unit`: Spark
    builds it from the name a user sets in `spark.sql.extensions`;
  - every identifier in perfbench/**/*.scala (perfbench is read only);
  - the members of a reached definition that are `override` or
    `implicit`, or that the compiler or the JVM calls without naming them
    (`apply`, `toString`, ...).
Reach goes by name: when live text names a name that several definitions
share, every one of them counts as reached. The scan can miss dead code
that shares a live name, but it never lists live code.

The tool prints the outermost unreached definitions (their members go
with them) that JUSTIFIED does not name, then the justified ones with
their reasons. It exits 1 when an unjustified entry remains or when a
JUSTIFIED entry is no longer unreached. `--why NAME` prints how each
definition called NAME (or with that qualified name) is reached.
"""
import os
import re
import sys

# The four reasons a definition may stay unreached.
REFERENCE = "reference implementation that specs compare kernels against"
SEAM = "test seam over live code"
FIXTURE = "read by the control-plane golden-fixture generator"
PAPER = "paper surface with no live path"

# Qualified name (enclosing definitions joined by ".") -> (class, reason).
JUSTIFIED = {
    "Signatures.charNgrams": (
        REFERENCE, "the definitional character n-grams; DedupSpec and "
        "PropertySpec check the charNgramSig kernel against it"),
    "Dedup.spanIslandPlan": (
        SEAM, "the span-island plan without persists; DedupSpec pins the "
        "shape the live span dedup runs"),
    "Multimodal.decodeRejects": (
        SEAM, "the doc_ids the live perceptual-hash decode rejected; "
        "MultimodalSpec checks the crawl posture through it"),
    "ControlPlane.listOidcStates": (
        SEAM, "the in-flight OIDC login states; OidcLoginSpec checks the "
        "live mint, redeem and eviction through it"),
    "GraftFunctions.register": (
        SEAM, "registers on a built session the functions GraftExtensions "
        "injects; PolyHashSpec and ScaledDotProductSpec check the SQL "
        "surface through it"),
    "GraftBridge.registerFunction": (
        SEAM, "the function-registry call GraftFunctions.register makes "
        "from inside Spark's sql package"),
    "ControlPlane.listUsers": (
        FIXTURE, "ControlPlaneFixture renders the user list, and must "
        "compile in older release checkouts"),
    "TypeMapping": (
        PAPER, "PG -> Spark type mapping (pgToSpark); PgWire renders values "
        "as text and the decoder infers their types"),
    "SchemaBuilder.buildFromColumns": (
        PAPER, "typed schema from declared PG columns through TypeMapping"),
    "SourceColumn": (
        PAPER, "a declared PG column, the input of buildFromColumns"),
    "DeadLetter.cleanup": (
        PAPER, "DLQ TTL retention; Serve does not run it yet"),
}

IDENT = re.compile(r"`[^`\n]+`|[A-Za-z_$][\w$]*")
DEF = re.compile(r"\b(def|class|object|trait)\s+"
                 r"(`[^`\n]+`|[A-Za-z_$][\w$]*|[^\s\w\[\](){}:=,;.`\"']+)")
MODIFIERS = re.compile(r"\b(override|implicit)\b")
QUALIFIED = re.compile(r"\b(?:[a-z_][\w$]*\.)+([A-Z][\w$]*)\b")
SESSION_EXTENSION = re.compile(
    r"[^{]*?\bextends\s*\(\s*SparkSessionExtensions\s*=>\s*Unit\s*\)")
# Members the compiler or the JVM calls without naming them.
UNNAMED_CALLS = {
    "apply", "unapply", "unapplySeq", "update", "map", "flatMap",
    "foreach", "withFilter", "toString", "equals", "hashCode",
    "readResolve", "writeReplace", "this",
}


def lex(src):
    """Returns (code, strings): src with comments and string-literal
    contents blanked (newlines and columns kept, interpolated
    expressions kept), and the literal text of every string."""
    out = list(src)
    strings = []
    n = len(src)

    def blank(i, j):
        for k in range(i, j):
            if out[k] != "\n":
                out[k] = " "

    def code(i, stop_at_brace):
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                blank(i, j)
                i = j
            elif src.startswith("/*", i):
                j, nest = i + 2, 1
                while j < n and nest:
                    if src.startswith("/*", j):
                        nest, j = nest + 1, j + 2
                    elif src.startswith("*/", j):
                        nest, j = nest - 1, j + 2
                    else:
                        j += 1
                blank(i, j)
                i = j
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                i = string(i, interp)
            elif c == "'" and i + 2 < n and (
                    src[i + 1] == "\\" or src[i + 2] == "'"):
                j = src.find("'", i + 3 if src[i + 1] == "\\" else i + 2)
                j = n if j < 0 else j + 1
                blank(i + 1, j - 1)
                i = j
            elif c == "{":
                depth += 1
                i += 1
            elif c == "}":
                if stop_at_brace and depth == 0:
                    return i
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    def string(i, interp):
        quote = '"""' if src.startswith('"""', i) else '"'
        j = start = i + len(quote)
        lit = []
        while j < n:
            if src.startswith(quote, j):
                while len(quote) == 3 and src.startswith('""""', j):
                    lit.append('"')
                    j += 1
                blank(start, j)
                strings.append("".join(lit))
                return j + len(quote)
            c = src[j]
            if c == "\\" and len(quote) == 1:
                lit.append(src[j:j + 2])
                j += 2
            elif interp and c == "$" and j + 1 < n:
                if src[j + 1] == "{":
                    blank(start, j)
                    j = start = code(j + 2, True) + 1
                elif src[j + 1] == "$":
                    j += 2
                else:
                    m = IDENT.match(src, j + 1)
                    blank(start, j + 1)
                    j = start = m.end() if m else j + 1
            else:
                lit.append(c)
                j += 1
        blank(start, n)
        return n

    code(0, False)
    return "".join(out), strings


class Def:
    def __init__(self, file, kind, name, start, line, mods):
        self.file, self.kind, self.name = file, kind, name
        self.start, self.line, self.mods = start, line, mods
        self.end = None
        self.parent = None
        self.children = []
        self.names = set()  # identifiers in the own text
        self.why = None  # how the definition is reached

    def qualified(self):
        d, names = self, []
        while d:
            names.append(d.name)
            d = d.parent
        return ".".join(reversed(names))


def parse(file, code):
    """The definitions of one file. Each spans from its keyword to the
    next line indented no deeper than the line it starts on, skipping
    continuation lines (closing brackets, `.method`, `extends`/`with`)."""
    lines = code.split("\n")
    starts = [0]
    for line in lines[:-1]:
        starts.append(starts[-1] + len(line) + 1)
    indents = [len(l) - len(l.lstrip(" ")) if l.strip() else None
               for l in lines]
    defs = []
    for m in DEF.finditer(code):
        line = _line_of(starts, m.start())
        indent = indents[line]
        mods = set(MODIFIERS.findall(code[starts[line]:m.start()]))
        d = Def(file, m.group(1), m.group(2).strip("`"), m.start(), line, mods)
        end = len(code)
        for k in range(line + 1, len(lines)):
            if indents[k] is None or indents[k] > indent:
                continue
            text = lines[k].lstrip(" ")
            if text.startswith(("extends ", "with ")) or (
                    indents[k] == indent and text[0] in "})]."):
                continue
            end = starts[k]
            break
        d.end = end
        defs.append(d)
    stack = []
    for d in defs:
        while stack and not stack[-1].start <= d.start < stack[-1].end:
            stack.pop()
        if stack:
            d.parent = stack[-1]
            stack[-1].children.append(d)
            d.end = min(d.end, stack[-1].end)
        stack.append(d)
    for d in defs:
        d.names = names_outside(code[:d.end], d.start,
                                [(c.start, c.end) for c in d.children])
        d.names.discard(d.name)
    return defs


def _line_of(starts, pos):
    lo, hi = 0, len(starts) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if starts[mid] <= pos:
            lo = mid
        else:
            hi = mid - 1
    return lo


def names_outside(code, start, spans):
    """Identifiers in code[start:] outside the given spans."""
    pieces, pos = [], start
    for a, b in spans:
        pieces.append(code[pos:a])
        pos = b
    pieces.append(code[pos:])
    return {t.strip("`") for t in IDENT.findall("\n".join(pieces))}


def scala_files(root):
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(base, f)


def analyse(root):
    """Every main-code definition, each with `why` set when reached."""
    defs, headers, strings = [], [], []
    for path in scala_files(os.path.join(root, "src", "main")):
        with open(path, encoding="utf-8") as f:
            code, lits = lex(f.read())
        rel = os.path.relpath(path, root)
        strings.extend(lits)
        file_defs = parse(rel, code)
        for d in file_defs:
            if d.kind == "class" and SESSION_EXTENSION.match(code, d.start, d.end):
                d.why = "root: a session extension (spark.sql.extensions)"
        defs.extend(file_defs)
        tops = [d for d in file_defs if d.parent is None]
        headers.append((rel, tops, names_outside(
            code, 0, [(d.start, d.end) for d in tops])))

    reached = set()
    namer = {}
    for path in scala_files(os.path.join(root, "perfbench")):
        with open(path, encoding="utf-8") as f:
            for name in names_outside(lex(f.read())[0], 0, []):
                namer.setdefault(name, "perfbench")
                reached.add(name)

    texts = list(strings)
    resources = os.path.join(root, "src", "main", "resources")
    for base, _, files in os.walk(resources):
        for f in files:
            with open(os.path.join(base, f), encoding="utf-8",
                      errors="replace") as fh:
                texts.append(fh.read())
    named_classes = {m.group(1) for t in texts for m in QUALIFIED.finditer(t)}

    for d in defs:
        if d.kind == "def" and d.name == "main":
            p, d.why = d.parent, "root: def main"
            while p and not p.why:
                p.why, p = f"root: holds {d.qualified()}", p.parent
        elif d.kind != "def" and d.name in named_classes:
            d.why = "root: named in a resource or a string literal"

    def add(names, by):
        for name in names - reached:
            namer[name] = by
        reached.update(names)

    def live(d):
        # A member of an unreached definition never runs.
        return d.why and (d.parent is None or live(d.parent))

    changed = True
    while changed:
        changed = False
        for d in defs:
            if live(d):
                add(d.names, d.qualified())
        for file, tops, names in headers:
            if any(d.why for d in tops):
                add(names, f"the header of {file}")
        for d in defs:
            if d.why:
                continue
            if d.name in reached:
                d.why = f"named in {namer[d.name]}"
                changed = True
            elif (d.parent is None or d.parent.why) and (
                    d.mods or d.name in UNNAMED_CALLS
                    or not IDENT.fullmatch(d.name)):
                d.why = "member: override, implicit or unnamed call"
                changed = True
    return defs


def outermost_unreached(defs):
    """The unreached definitions not nested in an unreached one."""
    return [d for d in defs
            if not d.why and not (d.parent and not d.parent.why)]


def main():
    args = sys.argv[1:]
    why = None
    if args[:1] == ["--why"] and len(args) > 1:
        why, args = args[1], args[2:]
    root = args[0] if args else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    defs = analyse(root)
    if why:
        for d in defs:
            if why in (d.name, d.qualified()):
                print(f"{d.file}:{d.line + 1}  {d.kind} {d.qualified()}: "
                      f"{d.why or 'unreached'}")
        return

    unreached = outermost_unreached(defs)
    unjustified = [d for d in unreached if d.qualified() not in JUSTIFIED]
    justified = [d for d in unreached if d.qualified() in JUSTIFIED]
    stale = sorted(set(JUSTIFIED) - {d.qualified() for d in unreached})

    print(f"unjustified: {len(unjustified)}")
    for d in unjustified:
        print(f"  {d.file}:{d.line + 1}  {d.kind} {d.qualified()}")
    print(f"justified: {len(justified)}")
    for d in justified:
        cls, reason = JUSTIFIED[d.qualified()]
        print(f"  {d.file}:{d.line + 1}  {d.kind} {d.qualified()}\n"
              f"      [{cls}] {reason}")
    if stale:
        print(f"stale justifications (now reached or gone): {len(stale)}")
        for q in stale:
            print(f"  {q}")
    sys.exit(1 if unjustified or stale else 0)


if __name__ == "__main__":
    main()
