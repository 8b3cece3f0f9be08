#!/usr/bin/env python3
"""Census of graft's library surface: who calls each def, who sets each option.

Run from the repo root:

    python3 tools/op_census.py            # full report
    python3 tools/op_census.py --check    # exit 1 on an unset option, an option
                                          # with one main value, an uncalled
                                          # public def, an unreached def or a
                                          # stale GUARDS/SPEC_HOOKS entry
    python3 tools/test_op_census.py       # self-test on a synthetic tree

It reads every member `def` of the objects in the library packages under
src/main/scala/graft/ (PACKAGES) and every call of them in src/main,
perfbench/src and src/test, then prints

  * for each public def, its callers outside its own object, split into
    main (src/main and perfbench/src) and specs (src/test);
  * for each defaulted parameter, one class: `main` (set by main code),
    `specs` (set only by specs) or `nobody` (set by no call); for a public
    one, also its main values, or `pinned` (below);
  * totals per package.

The harness and query files are callers, not surface: `Bench`, `Verify`,
`SparkEntry`, the query objects and the graft.tools mains sit outside
PACKAGES, and `ClassifyQuery` is left out by EXCLUDED_FILES. Their public
defs are entry points, or oracles interpolate them.

A call sets a parameter when it passes it, positionally or by name. A call
inside a covered object that passes a bare parameter of the def it sits in
(say `minhashLsh(repDocs, w)` inside an op that takes `w`) is a forward: it
sets the callee's parameter only as far as the enclosing parameter is itself
set (a parameter without a default always is). Classes are computed to a
fixed point over these forwards. A spec variable that shares a parameter's
name is a real setting: forwards exist only inside covered objects.

Calls are found in four forms: `Obj.name(...)` (also fully qualified, or
through a renaming import `{Obj => Alias}`), a bare `name(...)` inside `Obj`
or in a file that imports `Obj._` or `Obj.{name}`, and the `Obj(...)` /
`Obj(...) = v` sugar for `Obj.apply` / `Obj.update`. An `override def`
implements a supertype's member, so it is not part of its object's surface.

A member def is *reached* when main code outside the library files calls
it (the pipeline entry points, the harness, the query objects, graft.tools,
perfbench/src), or when a reached def calls it; reach is computed to a
fixed point over the call sites above. A call from library code that sits in
no member def (an object's initialiser, a class body, a top-level class)
counts as reached: the census does not parse classes, so check those by
hand. `override def`s implement a supertype and are never unreached.

The main values of a public defaulted parameter are collected over the
calls in reached main code (a call from a member def counts only when that
def is reached, so calls from specs and SPEC_HOOKS kernels never count):
the argument's text where a call passes it, the default's text where a call
leaves it out, and "many values" where a call forwards an enclosing def's
parameter. Argument text is read from the source with only comments
blanked, so string literals keep their content (`"e1"` and `"qta"` differ).
The comparison is lexical: an alias (`ShingleW` for `3`) is a second value,
so aliases are checked by hand.

`--check` fails when a defaulted parameter of a covered def is set by
nobody, when a public defaulted parameter has exactly one main value (an
option main code only ever uses one way is a constant), when a public
covered def has no caller outside its own object in main code, or when a
member def is not reached. The guards in GUARDS are exempt from the first
two rules: they refuse input past a limit, so a default nobody overrides is
their normal state. So are *pinned* options, the ones HARNESS files set: those
files do not change, so the option stays whatever its values. A GUARDS entry
that names no defaulted parameter of a covered def fails, so a later option
of that name cannot inherit the exemption unnoticed. The defs in
SPEC_HOOKS are exempt from the reach rule: they are reference
implementations and branch kernels that specs compare a reached op
against, and each entry names the op it pins. An entry that names a
missing def, a def that is now reached, or a pinned op that is not reached
fails the check too, so the list cannot go stale.

The parser is lexical: it blanks comments and string literals (not the code
inside their interpolations), then matches `def`s and calls by brace depth
and indentation. It relies on the repo's formatting (members at one indent
level, a def's body indented below its `def` line).
"""
import os
import re
import sys

PACKAGES = ["ops", "pipe", "streaming", "io", "kernel", "model", "classify",
            "extract", "validate", "html", "text", "functions"]
LIB_DIRS = ["src/main/scala/graft/" + p for p in PACKAGES]
# Query objects inside a library package: their defs are entry points.
EXCLUDED_FILES = {"src/main/scala/graft/classify/ClassifyQuery.scala"}
MAIN_DIRS = ["src/main/scala", "perfbench/src"]
SPEC_DIRS = ["src/test/scala"]

# The measurement and correctness harness: an option it sets is *pinned*
# (kept whatever its number of values), since these files do not change.
HARNESS = ("src/main/scala/graft/Bench.scala", "src/main/scala/graft/Verify.scala",
           "src/main/scala/graft/SparkEntry.scala", "perfbench/src/")

# Safety switches kept on purpose (ROADMAP direction 9): each refuses input
# past a limit, so a default nobody overrides is its normal state.
GUARDS = {"maxBroadcastRows", "requireUniqueDeltaKeys"}

# Unreached defs kept on purpose: the reference implementation or branch
# kernel a spec compares against -> the reached op it pins.
SPEC_HOOKS = {
    "DedupOps.simhashPairsUncollapsed": "DedupOps.simhashPairs",
    "PackingOps.packChunksWindow": "PackingOps.packChunks",
    "SimilarityOps.semDedupUncollapsed": "SimilarityOps.semDedupFrom",
    "SimilarityOps.cosineHof": "SimilarityOps.cosine",
    "SimilarityOps.thresholdPairs": "SimilarityOps.topPairs",
    "SimilarityOps.embeddingNearDups": "SimilarityOps.embeddingNearDupsFrom",
    "SuffixOps.suffixRanks": "SuffixOps.ranksCore",
    "SuffixOps.suffixCensusUncollapsed": "SuffixOps.suffixCensus",
}

NOBODY, SPECS, MAIN = 0, 1, 2
MANY = "<forwarded>"                  # the value of a forwarded parameter
CLASS_NAME = {NOBODY: "nobody", SPECS: "specs", MAIN: "main"}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def blank(src, literals=True):
    """Replace comments and string/char literal bodies with spaces, keeping
    every newline so offsets and line numbers are unchanged, and keeping the
    code inside `s"${...}"` interpolations (a call there is a call). With
    `literals=False` only comments are blanked: option values are read from
    that text at the same offsets, so `"e1"` and `"qta"` stay different."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def wipe_literal(q, a, b):
        """Blank a literal's body, but keep the `${expr}` and `$name` parts of
        an interpolated one (`s"..."`): they are code."""
        if not literals:
            return
        if q == 0 or not re.match(r"[A-Za-z0-9_]", src[q - 1]):
            wipe(a, b)
            return
        k = a
        while k < b:
            if src.startswith("$$", k):
                wipe(k, k + 2)
                k += 2
            elif src.startswith("${", k):
                e = min(match_close(src, k + 1), b)
                wipe(k, k + 2)
                wipe(e - 1, e)
                k = e
            elif src[k] == "$":
                m = re.compile(IDENT).match(src, k + 1)
                wipe(k, k + 1)
                k = m.end() if m and m.end() <= b else k + 1
            else:
                wipe(k, k + 1)
                k += 1

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
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
            wipe(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            wipe_literal(i, i + 3, j - 3)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            wipe_literal(i, i + 1, j)
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            if literals:
                wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def match_close(text, i):
    """Index just past the bracket closing the one at text[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = [pairs[text[i]]]
    j = i + 1
    while j < len(text) and stack:
        c = text[j]
        if c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
        j += 1
    return j


class Arg(str):
    """An argument's or parameter's blanked text; `.lit` is the same slice of
    the source with only comments blanked (its literals kept)."""
    def __new__(cls, text, lit):
        a = str.__new__(cls, text)
        a.lit = lit
        return a


def split_top(text, lit, a, b):
    """Split the argument or parameter list text[a:b] on its top-level
    commas, into Args."""
    parts, depth, start = [], 0, a
    for k in range(a, b):
        c = text[k]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append(Arg(text[start:k], lit[start:k]))
            start = k + 1
    if text[start:b].strip():
        parts.append(Arg(text[start:b], lit[start:b]))
    return parts


def skip_ws(text, i):
    while i < len(text) and text[i] in " \t\r\n":
        i += 1
    return i


def line_of(text, i):
    return text.count("\n", 0, i) + 1


def indent_at(text, i):
    start = text.rfind("\n", 0, i) + 1
    k = start
    while k < len(text) and text[k] == " ":
        k += 1
    return k - start


class Param:
    def __init__(self, name, default, default_lit):
        self.name = name
        self.default = default        # default expression, or None
        self.default_lit = default_lit
        self.cls = NOBODY
        self.by_main = []             # "file:line" of each direct setting
        self.by_specs = []
        self.values = []              # (caller def or None, value) per main call
        self.pinned = []              # "file:line" of each harness setting


class Def:
    def __init__(self, obj, name, visibility, member, start, end, lists, path, line):
        self.obj, self.name, self.visibility = obj, name, visibility
        self.override = visibility == "override"
        self.member = member          # a member of its object (not local)
        self.start, self.end = start, end
        self.lists = lists            # [[Param]]
        self.path, self.line = path, line
        self.main_callers = set()     # "Obj" or "file" of outside callers
        self.spec_callers = set()
        self.inside_calls = 0

    @property
    def public(self):
        return self.member and self.visibility == "public"

    @property
    def package(self):
        return os.path.basename(os.path.dirname(self.path))

    def params(self):
        return [p for pl in self.lists for p in pl]

    def label(self):
        return f"{self.obj}.{self.name}"


DEF_RE = re.compile(r"(?<![A-Za-z0-9_])def\s+(" + IDENT + r")")
OBJ_RE = re.compile(r"(?<![A-Za-z0-9_])object\s+(" + IDENT + r")")
CLASS_RE = re.compile(r"(?<![A-Za-z0-9_])class\s+" + IDENT)


def parse_params(text, lit, i):
    """Parse `[tparams](p: T = d, ...)(...)` from text[i] into [[Param]]."""
    i = skip_ws(text, i)
    if i < len(text) and text[i] == "[":
        i = skip_ws(text, match_close(text, i))
    lists = []
    while i < len(text) and text[i] == "(":
        j = match_close(text, i)
        pl = []
        for raw in split_top(text, lit, i + 1, j - 1):
            m = re.match(r"\s*(?:(?:implicit|val|var|final)\s+)?(" + IDENT + r")\s*:", raw)
            if not m:
                continue
            d = dl = None
            eq = re.search(r"(?<![=<>!])=(?![=>])", raw[m.end():])
            if eq:
                d = raw[m.end() + eq.end():].strip()
                dl = raw.lit[m.end() + eq.end():].strip()
            pl.append(Param(m.group(1), d, dl))
        lists.append(pl)
        i = skip_ws(text, j)
    return lists


def body_end(text, def_pos):
    """End of a def: the first later line at or left of the def's indent that
    is not a closing bracket line (the body is indented below it)."""
    ind = indent_at(text, def_pos)
    k = text.find("\n", def_pos)
    while k >= 0 and k < len(text):
        nxt = text.find("\n", k + 1)
        line = text[k + 1: nxt if nxt >= 0 else len(text)]
        stripped = line.strip()
        if stripped:
            lind = len(line) - len(line.lstrip(" "))
            if lind < ind or (lind == ind and stripped[0] not in ")}]."):
                return k + 1
        if nxt < 0:
            break
        k = nxt
    return len(text)


def visibility_of(text, def_pos):
    line_start = text.rfind("\n", 0, def_pos) + 1
    prefix = text[line_start:def_pos]
    m = re.search(r"\b(private|protected)(\[\w+\])?", prefix)
    if m:
        return m.group(1) + (m.group(2) or "")
    return "override" if re.search(r"\boverride\b", prefix) else "public"


def objects_in(text):
    """[(name, body_start, body_end)] of every object."""
    objs = []
    for m in OBJ_RE.finditer(text):
        b = text.find("{", m.end())
        if b < 0:
            continue
        # only `object X {` or `object X extends ... {` on the same
        # statement: a later line of the header continues it only after or
        # with `extends`/`with`, so `case object A extends T` has no body
        lines = text[m.end():b].split("\n")
        if any(not (prev.rstrip().endswith(("extends", "with", ",", "(", "["))
                    or line.strip().startswith(("extends", "with")))
               for prev, line in zip(lines, lines[1:])):
            continue
        objs.append((m.group(1), b, match_close(text, b)))
    return objs


def class_body(text, i):
    """Index of the `{` opening the body of the class whose name ends at i,
    or None for a class without a body."""
    i = skip_ws(text, i)
    while i < len(text) and text[i] in "[(":
        i = skip_ws(text, match_close(text, i))
    while i < len(text) and text[i] not in "{\n":
        i = match_close(text, i) if text[i] in "[(" else i + 1
    return i if i < len(text) and text[i] == "{" else None


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def scala_files(dirs):
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def collect_defs(files, lits):
    """All defs inside covered objects: members and local ones."""
    defs, by_obj = [], {}
    for path, text in files.items():
        objs = objects_in(text)
        for (obj, b, e) in objs:
            nested = [(ob, oe) for (_, ob, oe) in objs if b < ob and oe <= e]
            for cm in CLASS_RE.finditer(text, b, e):
                cb = class_body(text, cm.end())
                if cb is not None:
                    nested.append((cb, match_close(text, cb)))
            first = re.compile(r"\S").search(text, b + 1, e - 1)
            member_indent = indent_at(text, first.start()) if first else None
            for m in DEF_RE.finditer(text, b, e):
                if any(ob < m.start() < oe for ob, oe in nested):
                    continue      # a def of a nested object or class
                ind = indent_at(text, m.start())
                lists = parse_params(text, lits[path], m.end())
                member = ind == member_indent
                d = Def(obj, m.group(1), visibility_of(text, m.start()), member,
                        m.start(), body_end(text, m.start()), lists, path,
                        line_of(text, m.start()))
                defs.append(d)
                if member:
                    by_obj.setdefault(obj, {}).setdefault(d.name, []).append(d)
    return defs, by_obj


def bind(cands, arg_lists):
    """Pick the overload(s) a call can bind to by its first list's arity."""
    if len(cands) == 1:
        return cands
    first = arg_lists[0] if arg_lists else []
    named = {re.match(r"\s*(" + IDENT + r")\s*=(?![=>])", a).group(1)
             for a in first if re.match(r"\s*(" + IDENT + r")\s*=(?![=>])", a)}
    out = []
    for d in cands:
        if not d.lists:
            if not arg_lists:
                out.append(d)
            continue
        pl = d.lists[0]
        req = sum(1 for p in pl if p.default is None)
        names = {p.name for p in pl}
        if req <= len(first) <= len(pl) and named <= names:
            out.append(d)
    return out or cands


IMPORT_RE = re.compile(r"(?<![A-Za-z0-9_])import\s+([A-Za-z0-9_.]+(?:\{[^}]*\})?)")


def package_of(text):
    m = re.search(r"^package\s+([A-Za-z0-9_.]+)", text, re.M)
    return m.group(1) if m else ""


def block_end(text, pos):
    """End of the innermost `{...}` block holding pos (or of the file)."""
    depth = 0
    for j in range(pos - 1, -1, -1):
        if text[j] == "}":
            depth += 1
        elif text[j] == "{":
            if depth == 0:
                return match_close(text, j)
            depth -= 1
    return len(text)


def main(argv):
    check = "--check" in argv
    lits = {p: blank(read(p), literals=False)
            for p in scala_files(LIB_DIRS + MAIN_DIRS + SPEC_DIRS)}
    lib_files = {p: blank(read(p)) for p in scala_files(LIB_DIRS)
                 if p not in EXCLUDED_FILES}
    defs, by_obj = collect_defs(lib_files, lits)
    fq_of = {}                        # object -> fully qualified name
    for path, text in lib_files.items():
        for (obj, _, _) in objects_in(text):
            fq_of[obj] = package_of(text) + "." + obj
    members = [d for d in defs if d.member]
    forwards = []                     # (enclosing Param, callee Param)
    text_of = dict(lib_files)         # path -> blanked source
    roots = set()                     # member defs main code reaches directly
    edges = {}                        # member def -> member defs it calls

    def enclosing_def(path, pos):
        cands = [d for d in defs if d.path == path and d.start < pos < d.end]
        return sorted(cands, key=lambda d: d.start, reverse=True)

    def record(callee_defs, arg_lists, where, path, pos, caller_obj):
        encl = enclosing_def(path, pos) if path in lib_files else []
        caller = next((e for e in encl if e.member), None)
        site = f"{path}:{line_of(text_of[path], pos)}"
        if where == MAIN:
            if caller is None:
                roots.update(callee_defs)
            else:
                edges.setdefault(caller, set()).update(callee_defs)
        for d in callee_defs:
            if caller_obj != d.obj:
                (d.main_callers if where == MAIN else d.spec_callers).add(
                    caller_obj or os.path.basename(path))
            else:
                d.inside_calls += 1
            passed = set()
            for li, args in enumerate(arg_lists[:len(d.lists)]):
                pl = d.lists[li]
                for ai, a in enumerate(args):
                    nm = re.match(r"\s*(" + IDENT + r")\s*=(?![=>])\s*(.*)$", a, re.S)
                    if nm and any(p.name == nm.group(1) for p in pl):
                        target = next(p for p in pl if p.name == nm.group(1))
                        expr, value = nm.group(2).strip(), a.lit[nm.start(2):]
                    elif ai < len(pl):
                        target, expr, value = pl[ai], a.strip(), a.lit
                    else:
                        continue
                    passed.add(target)
                    src = None
                    if re.fullmatch(IDENT, expr):
                        for e in encl:
                            hit = [p for p in e.params() if p.name == expr]
                            if hit:
                                src = hit[0]
                                break
                    if src is not None and src.default is not None:
                        forwards.append((src, target))
                    elif where == MAIN:
                        target.by_main.append(site)
                    else:
                        target.by_specs.append(site)
                    if where == MAIN:
                        target.values.append(
                            (caller, MANY if src is not None else " ".join(value.split())))
                        if path.startswith(HARNESS):
                            target.pinned.append(site)
            if where == MAIN:
                for p in d.params():
                    if p.default is not None and p not in passed:
                        p.values.append((caller, " ".join(p.default_lit.split())))

    def scan(path, text, where):
        text_of[path] = text
        lit = lits[path]
        objs = objects_in(text)

        def obj_at(pos):
            inner = [o for o in objs if o[1] < pos < o[2]]
            return max(inner, key=lambda o: o[1])[0] if inner else None

        def arg_lists_at(i):
            i = skip_ws(text, i)
            if i < len(text) and text[i] == "[":
                i = match_close(text, i)
            lists = []
            while i < len(text) and text[i] in "({":
                j = match_close(text, i)
                lists.append(split_top(text, lit, i + 1, j - 1) if text[i] == "(" else
                             [Arg(text[i + 1:j - 1], lit[i + 1:j - 1])])
                i = j
            return lists, i

        def qualified_ok(pos, obj):
            """A name preceded by `.` refers to a covered object only when
            its qualifier is that object's package (not, say, Spark's
            `org.apache.spark.sql.functions`)."""
            if pos == 0 or text[pos - 1] != ".":
                return True
            pkg = fq_of[obj][:-len(obj)]
            return text[max(0, pos - len(pkg)):pos] == pkg

        def bare_ok(start, end):
            before = text[max(0, start - 8):start]
            if re.search(r"\b(def|val|var|object|class|trait|new)\s+$", before):
                return False      # a declaration, or a constructor call
            line_start = text.rfind("\n", 0, start) + 1
            if text[line_start:start].lstrip().startswith("import"):
                return False
            after = skip_ws(text, end)
            if text.startswith("=", after) and not text.startswith("==", after) \
                    and not text.startswith("=>", after):
                return False      # a named argument or an assignment
            return not (after < len(text) and text[after] == ":")

        # imports: `Obj._` / `Obj.{a, b => c}` bring bare names into scope;
        # `pkg.{Obj => Alias}` renames the object
        aliases = {o: o for o in by_obj}
        bare_names = []           # (scope start, scope end, {bare: (obj, name)})
        for m in IMPORT_RE.finditer(text):
            spec = m.group(1)
            if spec.endswith("}"):
                path_part, sel = spec[:spec.index("{")].rstrip("."), \
                    spec[spec.index("{") + 1:-1]
                sels = [x.strip() for x in sel.split(",") if x.strip()]
            else:
                path_part, _, last = spec.rpartition(".")
                sels = [last]
            last_obj = path_part.rpartition(".")[2]
            if last_obj in by_obj and path_part in (
                    fq_of[last_obj], last_obj,
                    fq_of[last_obj].split(".", 1)[1]):
                names = {}
                for x in sels:
                    orig, _, new = (t.strip() for t in x.partition("=>"))
                    if orig == "_":
                        names.update({n: (last_obj, n) for n in by_obj[last_obj]})
                    elif orig in by_obj[last_obj] and new != "_":
                        names[new or orig] = (last_obj, orig)
                if names:
                    bare_names.append((m.end(), block_end(text, m.start()), names))
            else:
                for x in sels:
                    orig, _, new = (t.strip() for t in x.partition("=>"))
                    if new and new != "_" and orig in by_obj and \
                            path_part + "." + orig == fq_of[orig]:
                        aliases[new] = orig

        qual = re.compile(r"(?<![A-Za-z0-9_])(" + "|".join(map(re.escape, aliases)) +
                          r")(?=\s*\.\s*(" + IDENT + r"))")
        for m in qual.finditer(text):
            obj, name = aliases[m.group(1)], m.group(2)
            cands = by_obj[obj].get(name)
            if cands and (m.group(1) != obj or qualified_ok(m.start(), obj)):
                al, _ = arg_lists_at(m.end(2))
                record(bind(cands, al), al, where, path, m.start(), obj_at(m.start()))

        # `Obj(...)` is `Obj.apply(...)`; `Obj(...) = v` is `Obj.update(...)`
        sugared = [o for o in by_obj if "apply" in by_obj[o] or "update" in by_obj[o]]
        if sugared:
            sugar = re.compile(r"(?<![A-Za-z0-9_])(" + "|".join(sugared) +
                               r")(?=\s*[\[(])")
            for m in sugar.finditer(text):
                obj = m.group(1)
                if not (qualified_ok(m.start(), obj) and bare_ok(m.start(), m.end())):
                    continue
                al, j = arg_lists_at(m.end())
                j = skip_ws(text, j)
                if text.startswith("=", j) and not text.startswith("==", j) \
                        and not text.startswith("=>", j) and "update" in by_obj[obj]:
                    name = "update"
                    e = text.find("\n", j) if "\n" in text[j:] else len(text)
                    rhs = Arg(text[j + 1:e], lit[j + 1:e])
                    al = [al[0] + [rhs]] if al else [[rhs]]
                else:
                    name = "apply"
                if name in by_obj[obj]:
                    record(bind(by_obj[obj][name], al), al, where, path, m.start(),
                           obj_at(m.start()))

        def scan_bare(names, lo, hi, caller):
            bare = re.compile(r"(?<![A-Za-z0-9_.])(" +
                              "|".join(map(re.escape, names)) +
                              r")(?![A-Za-z0-9_])")
            for m in bare.finditer(text, lo, hi):
                if not bare_ok(m.start(), m.end()):
                    continue
                obj, name = names[m.group(1)]
                at = obj_at(m.start())
                if caller is not None and at != caller:
                    continue
                al, _ = arg_lists_at(m.end())
                record(bind(by_obj[obj][name], al), al, where, path, m.start(), at)

        for lo, hi, names in bare_names:
            scan_bare(names, lo, hi, None)
        if path in lib_files:
            for (obj, b, e) in objs:
                if by_obj.get(obj):
                    scan_bare({n: (obj, n) for n in by_obj[obj]}, b, e, obj)

    for path in scala_files(MAIN_DIRS):
        scan(path, lib_files.get(path) or blank(read(path)), MAIN)
    for path in scala_files(SPEC_DIRS):
        scan(path, blank(read(path)), SPECS)

    for d in defs:
        for p in d.params():
            p.cls = MAIN if p.by_main or p.default is None else SPECS if p.by_specs else NOBODY
    changed = True
    while changed:
        changed = False
        for src, target in forwards:
            if src.cls > target.cls:
                target.cls, changed = src.cls, True

    reached, todo = set(), list(roots)
    while todo:
        d = todo.pop()
        if d not in reached:
            reached.add(d)
            todo.extend(edges.get(d, ()))
    unreached = [d for d in members if not d.override and d not in reached]
    member_of = {d.label(): d for d in members}
    hooked = [d for d in unreached if d.label() in SPEC_HOOKS]
    unreached = [d for d in unreached if d.label() not in SPEC_HOOKS]
    stale = []
    for hook, pinned in sorted(SPEC_HOOKS.items()):
        if hook not in member_of:
            stale.append(f"SPEC_HOOKS entry {hook} names no member def")
        elif member_of[hook] in reached:
            stale.append(f"SPEC_HOOKS entry {hook} is reached; drop the entry")
        if pinned not in member_of or member_of[pinned] not in reached:
            stale.append(f"SPEC_HOOKS entry {hook} pins {pinned}, which is "
                         f"not a reached def")

    def main_values(p):
        """The distinct values reached main calls give p."""
        return sorted({v for caller, v in p.values if caller is None or caller in reached})

    public = [d for d in members if d.public]
    print("== public library defs: outside callers (main | specs) ==")
    for d in sorted(public, key=lambda d: (d.package, d.obj, d.line)):
        note = ("" if d.main_callers or d.spec_callers else
                "  inside-only" if d.inside_calls else "  UNCALLED")
        print(f"{d.label():45s} main: {','.join(sorted(d.main_callers)) or '-'}"
              f" | specs: {','.join(sorted(d.spec_callers)) or '-'}{note}")
    print()
    print("== defaulted parameters of library defs: class, then the values reached "
          "main calls give a public one ==")
    opts = [(d, p) for d in members if not d.override
            for p in d.params() if p.default is not None]
    for d, p in sorted(opts, key=lambda t: (t[0].package, t[0].obj, t[0].line)):
        tag = " (guard)" if p.name in GUARDS else ""
        sites = p.by_main if p.cls == MAIN else p.by_specs
        site = (f"  e.g. {sites[0]}" if sites else
                "  via a forward" if p.cls != NOBODY else "")
        vals = ""
        if d.public and not tag:
            vals = (f"  pinned at {p.pinned[0]}" if p.pinned else
                    "  values: " + " | ".join(v[:30] for v in main_values(p)))
        print(f"{d.label() + '.' + p.name:55s} {CLASS_NAME[p.cls]:7s} "
              f"{d.visibility}{tag}{site}{vals}")
    print()

    option_names = {p.name for d, p in opts}
    stale += [f"GUARDS entry {g} names no defaulted parameter of a covered def"
              for g in sorted(GUARDS - option_names)]
    nobody = [(d, p) for d, p in opts if p.cls == NOBODY and p.name not in GUARDS]
    one_value = [(d, p) for d, p in opts if d.public and p.name not in GUARDS
                 and not p.pinned and len(main_values(p)) == 1
                 and main_values(p) != [MANY]]
    uncalled = [d for d in public if not d.main_callers]

    def totals(pkg):
        pub = [d for d in public if pkg in (None, d.package)]
        pub_opts = [p for d, p in opts if d.public and pkg in (None, d.package)]
        return [len(pub), sum(len(d.params()) for d in pub), len(pub_opts)] + \
            [sum(1 for p in pub_opts if p.cls == c) for c in (MAIN, SPECS, NOBODY)] + \
            [sum(1 for p in pub_opts if p.name in GUARDS),
             sum(1 for p in pub_opts if p.pinned and p.name not in GUARDS),
             sum(1 for d, p in one_value if pkg in (None, d.package)),
             sum(1 for d, p in nobody if pkg in (None, d.package)),
             sum(1 for d in uncalled if pkg in (None, d.package)),
             sum(1 for d in members if pkg in (None, d.package)),
             sum(1 for d in unreached if pkg in (None, d.package)),
             sum(1 for d in hooked if pkg in (None, d.package))]

    print("== spec hooks: unreached on purpose -> the reached op each pins ==")
    for d in sorted(hooked, key=lambda d: (d.package, d.obj, d.line)):
        print(f"{d.label():45s} pins {SPEC_HOOKS[d.label()]}")
    print()

    print("== totals per package ==")
    print("columns: public defs | public parameters | settable options (defaulted "
          "public parameters): set by main, by specs, by nobody, guards, pinned by "
          "the harness, with one main value (guards and pinned exempt) | "
          "parameters set by nobody (any visibility, guards exempt) | public defs "
          "without an outside caller in main code | member defs (any visibility): "
          "unreached, spec hooks")
    for pkg in PACKAGES + [None]:
        t = totals(pkg)
        print(f"{pkg or 'all':10s} defs {t[0]:4d}  params {t[1]:4d}  options {t[2]:4d}"
              f" (main {t[3]:3d}, specs {t[4]:3d}, nobody {t[5]:3d}, guards {t[6]},"
              f" pinned {t[7]}, one-value {t[8]:3d})  nobody {t[9]:3d}  uncalled {t[10]:3d}"
              f"  members {t[11]:4d} (unreached {t[12]:3d}, hooks {t[13]:2d})")
    if check:
        for d, p in nobody:
            print(f"FAIL: {d.label()}.{p.name} ({d.path}:{d.line}) is set by nobody")
        for d, p in one_value:
            print(f"FAIL: {d.label()}.{p.name} ({d.path}:{d.line}) has one main value: "
                  f"{main_values(p)[0]}")
        for d in uncalled:
            print(f"FAIL: public {d.label()} ({d.path}:{d.line}) has no caller outside "
                  f"{d.obj} in main code")
        for d in sorted(unreached, key=lambda d: (d.path, d.line)):
            print(f"FAIL: {d.label()} ({d.path}:{d.line}) is reached by no main "
                  f"code and is not in SPEC_HOOKS")
        for msg in stale:
            print(f"FAIL: {msg}")
        return 1 if nobody or one_value or uncalled or unreached or stale else 0
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
