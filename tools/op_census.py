#!/usr/bin/env python3
"""Census of graft.ops' public surface: who calls each op, who sets each option.

Run from the repo root:

    python3 tools/op_census.py            # full report
    python3 tools/op_census.py --check    # exit 1 on an unset option or an uncalled op

It reads every member `def` of the objects in src/main/scala/graft/ops/ and
every call of them in src/main, perfbench/src and src/test, then prints

  * for each public op, its callers outside its own object, split into
    main (src/main and perfbench/src) and specs (src/test);
  * for each defaulted parameter, one class: `main` (set by main code),
    `specs` (set only by specs) or `nobody` (set by no call).

A call sets a parameter when it passes it, positionally or by name. A call
inside graft.ops that passes a bare parameter of the def it sits in (say
`minhashLsh(repDocs, w)` inside an op that takes `w`) is a forward: it sets
the callee's parameter only as far as the enclosing parameter is itself set
(a parameter without a default always is). Classes are computed to a fixed
point over these forwards. A spec variable that shares a parameter's name is
a real setting: forwards exist only inside graft.ops.

`--check` fails when a defaulted parameter of a graft.ops def is set by
nobody, or when a public graft.ops def has no caller outside its own object
in main code. The guards in GUARDS are exempt from the first rule: they are
safety switches, so a default nobody overrides is their normal state.

The parser is lexical: it blanks comments and string literals, then matches
`def`s, `Obj.name(...)` calls and same-object `name(...)` calls by brace
depth and indentation. It relies on the repo's formatting (members at one
indent level, a def's body indented below its `def` line).
"""
import os
import re
import sys

OPS_DIR = "src/main/scala/graft/ops"
MAIN_DIRS = ["src/main/scala", "perfbench/src"]
SPEC_DIRS = ["src/test/scala"]

# Safety switches and spec hooks kept on purpose (ROADMAP direction 9).
GUARDS = {"maxBroadcastRows", "requireUniqueDeltaKeys", "materialize",
          "lineageTruncate"}

NOBODY, SPECS, MAIN = 0, 1, 2
CLASS_NAME = {NOBODY: "nobody", SPECS: "specs", MAIN: "main"}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def blank(src):
    """Replace comments and string/char literal bodies with spaces, keeping
    every newline so offsets and line numbers are unchanged."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

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
            wipe(i + 1, j - 1)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            wipe(i + 1, j)
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
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


def split_top(s):
    """Split an argument or parameter list on its top-level commas."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        parts.append("".join(cur))
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
    def __init__(self, name, default):
        self.name = name
        self.default = default        # default expression, or None
        self.cls = NOBODY
        self.by_main = []             # "file:line" of each direct setting
        self.by_specs = []


class Def:
    def __init__(self, obj, name, visibility, member, start, end, lists, path, line):
        self.obj, self.name, self.visibility = obj, name, visibility
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

    def params(self):
        return [p for pl in self.lists for p in pl]

    def label(self):
        return f"{self.obj}.{self.name}"


DEF_RE = re.compile(r"(?<![A-Za-z0-9_])def\s+(" + IDENT + r")")
OBJ_RE = re.compile(r"(?<![A-Za-z0-9_])object\s+(" + IDENT + r")")
CLASS_RE = re.compile(r"(?<![A-Za-z0-9_])class\s+" + IDENT)


def parse_params(text, i):
    """Parse `[tparams](p: T = d, ...)(...)` from text[i] into [[Param]]."""
    i = skip_ws(text, i)
    if i < len(text) and text[i] == "[":
        i = skip_ws(text, match_close(text, i))
    lists = []
    while i < len(text) and text[i] == "(":
        j = match_close(text, i)
        body = text[i + 1:j - 1]
        pl = []
        for raw in split_top(body):
            raw = raw.strip()
            raw = re.sub(r"^(implicit|val|var|final)\s+", "", raw)
            m = re.match(r"(" + IDENT + r")\s*:", raw)
            if not m:
                continue
            d = None
            eq = re.search(r"(?<![=<>!])=(?![=>])", raw[m.end():])
            if eq:
                d = raw[m.end() + eq.end():].strip()
            pl.append(Param(m.group(1), d))
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
    if not m:
        return "public"
    return m.group(1) + (m.group(2) or "")


def objects_in(text):
    """[(name, body_start, body_end)] of every object."""
    objs = []
    for m in OBJ_RE.finditer(text):
        b = text.find("{", m.end())
        if b < 0:
            continue
        # only `object X {` or `object X extends ... {` on the same statement
        if "\n\n" in text[m.end():b]:
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


def collect_defs(files):
    """All defs inside graft.ops objects: members and local ones."""
    defs, by_obj = [], {}
    for path, text in files.items():
        objs = objects_in(text)
        for (obj, b, e) in objs:
            nested = [(ob, oe) for (_, ob, oe) in objs if b < ob and oe <= e]
            for cm in CLASS_RE.finditer(text, b, e):
                cb = class_body(text, cm.end())
                if cb is not None:
                    nested.append((cb, match_close(text, cb)))
            member_indent = None
            for m in DEF_RE.finditer(text, b, e):
                if any(ob < m.start() < oe for ob, oe in nested):
                    continue      # a def of a nested object or class
                ind = indent_at(text, m.start())
                if member_indent is None:
                    member_indent = ind
                lists = parse_params(text, m.end())
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


def main(argv):
    check = "--check" in argv
    ops_files = {p: blank(read(p)) for p in scala_files([OPS_DIR])}
    defs, by_obj = collect_defs(ops_files)
    members = [d for d in defs if d.member]
    forwards = []                     # (enclosing Param, callee Param)
    text_of = dict(ops_files)         # path -> blanked source

    def enclosing_def(path, pos):
        cands = [d for d in defs if d.path == path and d.start < pos < d.end]
        return sorted(cands, key=lambda d: d.start, reverse=True)

    def record(callee_defs, arg_lists, where, path, pos, caller_obj):
        for d in callee_defs:
            if caller_obj != d.obj:
                (d.main_callers if where == MAIN else d.spec_callers).add(
                    caller_obj or os.path.basename(path))
            else:
                d.inside_calls += 1
            encl = enclosing_def(path, pos) if path in ops_files else []
            for li, args in enumerate(arg_lists[:len(d.lists)]):
                pl = d.lists[li]
                for ai, a in enumerate(args):
                    nm = re.match(r"\s*(" + IDENT + r")\s*=(?![=>])\s*(.*)$", a, re.S)
                    if nm and any(p.name == nm.group(1) for p in pl):
                        target = next(p for p in pl if p.name == nm.group(1))
                        expr = nm.group(2).strip()
                    elif ai < len(pl):
                        target, expr = pl[ai], a.strip()
                    else:
                        continue
                    src = None
                    if re.fullmatch(IDENT, expr):
                        for e in encl:
                            hit = [p for p in e.params() if p.name == expr]
                            if hit:
                                src = hit[0]
                                break
                    site = f"{path}:{line_of(text_of[path], pos)}"
                    if src is not None and src.default is not None:
                        forwards.append((src, target))
                    elif where == MAIN:
                        target.by_main.append(site)
                    else:
                        target.by_specs.append(site)

    def scan(path, text, where):
        text_of[path] = text
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
                inner = text[i + 1:j - 1]
                lists.append(split_top(inner) if text[i] == "(" else [inner])
                i = j
            return lists

        qual = re.compile(r"(?<![A-Za-z0-9_])(" + "|".join(by_obj) +
                          r")\s*\.\s*(" + IDENT + r")")
        for m in qual.finditer(text):
            obj, name = m.group(1), m.group(2)
            cands = by_obj[obj].get(name)
            if cands:
                al = arg_lists_at(m.end())
                record(bind(cands, al), al, where, path, m.start(), obj_at(m.start()))
        if path in ops_files:
            for (obj, b, e) in objs:
                names = by_obj.get(obj, {})
                if not names:
                    continue
                bare = re.compile(r"(?<![A-Za-z0-9_.])(" +
                                  "|".join(map(re.escape, names)) +
                                  r")(?![A-Za-z0-9_])")
                for m in bare.finditer(text, b, e):
                    before = text[max(0, m.start() - 8):m.start()]
                    if re.search(r"def\s+$", before):
                        continue
                    if obj_at(m.start()) != obj:
                        continue
                    after = skip_ws(text, m.end())
                    if text.startswith("=", after) and not text.startswith("==", after) \
                            and not text.startswith("=>", after):
                        continue          # a named argument or an assignment
                    if after < len(text) and text[after] == ":":
                        continue          # a parameter or val declaration
                    al = arg_lists_at(m.end())
                    record(bind(names[m.group(1)], al), al, MAIN, path, m.start(), obj)

    for path in scala_files(MAIN_DIRS):
        scan(path, ops_files.get(path) or blank(read(path)), MAIN)
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

    public = [d for d in members if d.public]
    print("== public graft.ops defs: outside callers (main | specs) ==")
    for d in sorted(public, key=lambda d: (d.obj, d.line)):
        note = ("" if d.main_callers or d.spec_callers else
                "  inside-only" if d.inside_calls else "  UNCALLED")
        print(f"{d.label():45s} main: {','.join(sorted(d.main_callers)) or '-'}"
              f" | specs: {','.join(sorted(d.spec_callers)) or '-'}{note}")
    print()
    print("== defaulted parameters of graft.ops defs ==")
    opts = [(d, p) for d in members for p in d.params() if p.default is not None]
    for d, p in sorted(opts, key=lambda t: (t[0].obj, t[0].line)):
        tag = " (guard)" if p.name in GUARDS else ""
        sites = p.by_main if p.cls == MAIN else p.by_specs
        site = (f"  e.g. {sites[0]}" if sites else
                "  via a forward" if p.cls != NOBODY else "")
        print(f"{d.label() + '.' + p.name:55s} {CLASS_NAME[p.cls]:7s} "
              f"{d.visibility}{tag}{site}")
    print()

    pub_params = sum(len(d.params()) for d in public)
    pub_opts = [(d, p) for d, p in opts if d.public]
    nobody = [(d, p) for d, p in opts if p.cls == NOBODY and p.name not in GUARDS]
    uncalled = [d for d in public if not d.main_callers]
    print("== totals ==")
    print(f"public defs: {len(public)}")
    print(f"public parameters: {pub_params}")
    print(f"settable options (defaulted public parameters): {len(pub_opts)}")
    for c in (MAIN, SPECS, NOBODY):
        print(f"  set by {CLASS_NAME[c]}: {sum(1 for _, p in pub_opts if p.cls == c)}")
    print(f"  guards: {sum(1 for _, p in pub_opts if p.name in GUARDS)}")
    print(f"defaulted parameters set by nobody (any visibility, guards exempt): {len(nobody)}")
    print(f"public defs without an outside caller in main code: {len(uncalled)}")
    if check:
        for d, p in nobody:
            print(f"FAIL: {d.label()}.{p.name} ({d.path}:{d.line}) is set by nobody")
        for d in uncalled:
            print(f"FAIL: public {d.label()} ({d.path}:{d.line}) has no caller outside "
                  f"{d.obj} in main code")
        return 1 if nobody or uncalled else 0
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
