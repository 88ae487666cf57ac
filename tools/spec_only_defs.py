#!/usr/bin/env python3
"""Report the public Scala code that no entry point reaches.

The compiler's -Wunused sees private and local code only: a public def
whose only callers are specs compiles clean and keeps its tests green
long after the program stopped using it. This script follows references
from the program's entry points and prints every src/main definition
(object, class or trait member, nested or top-level type) that the
closure never reaches, with whether a spec, a comment or nothing
mentions it. It also prints every default-valued parameter of a reached
public def that no call in the reached code sets, by name or by
position: a knob that only a spec turns, or nothing does, is a constant.

    python3 tools/spec_only_defs.py              # scan the repo, exit 1 on a finding
    python3 tools/spec_only_defs.py --self-test  # check the scanner on a synthetic tree

Entry points: every object in src/main with a `main` method, every
definition under src/main/scala/graft/queries/ and perfbench/src/main,
and the objects and classes named in ROOT_SYMBOLS (the driver's
`SparkEntry` and the data source Spark loads by name). Definitions on
the allow-list (tools/spec_only_defs.allow, one `name: reason` per
line) are kept on purpose: each counts as an entry point too, with all
of its members and their parameters, and an entry that the entry points
reach anyway, or that names nothing, or that gives no reason, is an
error. A `name(param): reason` entry keeps one unset parameter; it is
an error when the def has no such default-valued parameter or when a
reached call sets it.

How references are read:
  - comments are stripped, so a scaladoc `[[Owner.name]]` is no caller;
  - string literals are kept, so a codegen string such as
    "graft.functions.UnicodeNorm.normalizeJ(...)" is a call;
  - a reference resolves by owner: `Owner.name`, `Owner(...)` (which
    reaches `Owner.apply`), explicit and wildcard imports, the enclosing
    objects and their parents, and the file's package. A bare name
    that none of these define reaches nothing, so a dead def that
    shares its name with a live one in another object is still found.

A member of a class or trait is reached by its bare name inside the
type, or by a selection `x.name` in reached code whose receiver may be
an instance of the type: `this`, a value whose declared type (or
constructor call) names the type or a subtype, or a receiver of unknown
type in a file that names the type. A member that overrides a parent
member, or any member of a type whose parent lies outside the repo, is
reached with its owner.

A call sets the parameters it passes by position and by name, list by
list; `copy(name = ...)` sets a case-class field; a def passed as a
value (eta-expansion) sets all of its parameters.
"""
import argparse
import bisect
import os
import re
import sys
import tempfile

MAIN_TREE = "src/main/scala"
SPEC_TREES = ("src/test/scala", "perfbench/src/test/scala")
# trees whose every definition is an entry point
ROOT_TREES = ("src/main/scala/graft/queries", "perfbench/src/main/scala")
ROOT_SYMBOLS = ("graft.SparkEntry", "graft.sources.sta.DefaultSource")
ALLOW_FILE = "tools/spec_only_defs.allow"
# parents that add no abstract members an outside caller could invoke
NEUTRAL_PARENTS = {"Serializable", "Product", "AnyRef", "Any"}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
DEF_RE = re.compile(
    r"(?<![\w.$])((?:(?:private|protected)(?:\[\w*\])?\s+|override\s+|final\s+|sealed\s+"
    r"|abstract\s+|implicit\s+|lazy\s+|case\s+)*)"
    r"\b(def|val|var|object|class|trait|type)\s+(" + IDENT + r"|[!#%&*+\-/:<=>?\\^|~]+)")
# `$name` inside an interpolated string is a reference too
CHAIN_RE = re.compile(r"(?<![\w.])" + IDENT + r"(?:\s*\.\s*" + IDENT + r")*")
IMPORT_RE = re.compile(r"\bimport\s+([\w.]+?)(?:\.(_|\{[^}]*\})|(?=\s|;|$))")
TEMPLATE_KINDS = ("object", "class", "trait")


def lex(text):
    """Return (code, struct, comments): code has comments blanked and
    strings kept; struct also blanks string literals; comments is the
    comment text. Offsets and newlines are preserved in both views."""
    n = len(text)
    code, struct = list(text), list(text)
    comments = []

    def blank(bufs, a, b):
        for buf in bufs:
            for k in range(a, b):
                if buf[k] != "\n":
                    buf[k] = " "

    def string(i, interp):
        # i at the opening quote; returns the index past the literal
        start = i
        triple = text.startswith('"""', i)
        i += 3 if triple else 1
        while i < n:
            c = text[i]
            if triple and text.startswith('"""', i):
                while i + 3 < n and text[i + 3] == '"':
                    i += 1
                i += 3
                break
            if not triple and c == '"':
                i += 1
                break
            if not triple and c == "\n":
                break
            if c == "\\" and not triple:
                i += 2
                continue
            if interp and c == "$" and i + 1 < n:
                if text[i + 1] == "$":
                    i += 2
                    continue
                if text[i + 1] == "{":
                    i = code_until(i + 2, True)
                    continue
            i += 1
        blank([struct], start, min(i, n))
        return i

    def code_until(i, in_interp):
        depth = 0
        while i < n:
            c = text[i]
            if text.startswith("//", i):
                j = text.find("\n", i)
                j = n if j < 0 else j
                comments.append(text[i:j])
                blank([code, struct], i, j)
                i = j
            elif text.startswith("/*", i):
                j, nest = i + 2, 1
                while j < n and nest:
                    if text.startswith("/*", j):
                        nest, j = nest + 1, j + 2
                    elif text.startswith("*/", j):
                        nest, j = nest - 1, j + 2
                    else:
                        j += 1
                comments.append(text[i:j])
                blank([code, struct], i, j)
                i = j
            elif c == '"':
                interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
                i = string(i, interp)
            elif c == "'":
                if text.startswith("\\", i + 1):
                    j = text.find("'", i + 2)
                    if text.startswith("\\'", i + 1):
                        j = i + 3
                    i = (j + 1) if j > 0 else i + 1
                elif i + 2 < n and text[i + 2] == "'":
                    i += 3
                else:
                    i += 1
            elif c == "{":
                depth += 1
                i += 1
            elif c == "}":
                if in_interp and depth == 0:
                    return i + 1
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    code_until(0, False)
    return "".join(code), "".join(struct), comments


class Sym:
    """A definition: a template (object, class, trait) or a template member."""

    def __init__(self, kind, name, owner, file, start, end, mods):
        self.kind, self.name, self.owner, self.file = kind, name, owner, file
        self.start, self.end = start, end   # offsets of its whole text
        self.override = "override" in mods
        self.private = "private" in mods or "protected" in mods
        self.members = {}       # name -> [Sym]
        self.member_names = set()
        self.parents = []       # resolved parent syms (templates)
        self.external_parent = False
        self.header = (start, start)
        self.qual = None
        self.params = []        # [[(name, has_default)]] per explicit parameter list
        self.rtype = None       # declared result type text
        self.init = None        # initializer text of an unannotated val

    def is_template(self):
        return self.kind in TEMPLATE_KINDS

    def own_range(self):
        """(start, end, sub-ranges owned by members)."""
        skip = [(m.start, m.end) for ms in self.members.values() for m in ms]
        return self.start, self.end, skip


class SourceFile:
    def __init__(self, rel, text, role):
        self.rel, self.role = rel, role   # role: main | root | spec
        self.code, self.struct, self.comments = lex(text)
        m = re.search(r"^\s*package\s+([\w.]+)", self.struct, re.M)
        self.package = m.group(1) if m else ""
        self.templates = []               # every template, outermost first
        self.syms = []
        self.imports = []                 # (path segments, selector)
        self.import_spans = []
        line_starts = [0] + [i + 1 for i, c in enumerate(text) if c == "\n"]
        self.line_starts = line_starts
        self.chains = []                  # (pos, [segments], applied, end)
        self.decl_names = set()           # chain offsets that name a new definition
        for m in CHAIN_RE.finditer(self.code):
            segs = [s.strip() for s in m.group(0).split(".")]
            rest = self.code[m.end():m.end() + 40].lstrip()
            self.chains.append((m.start(), segs, rest.startswith("("), m.end()))
            if DECL_BEFORE_RE.search(self.code, max(0, m.start() - 12), m.start()):
                self.decl_names.add(m.start())
        self.chain_pos = [c[0] for c in self.chains]
        # selections on a receiver that is no identifier chain: `f(x).name`
        self.tails = []                   # (pos, [(segment, end)])
        for m in TAIL_RE.finditer(self.code):
            segs, at = [], m.start(1)
            for sm in re.finditer(IDENT, m.group(1)):
                segs.append((sm.group(0), at + sm.end()))
            self.tails.append((m.start(1), segs))
        self.tail_pos = [t[0] for t in self.tails]
        self.decls = None

    def line_of(self, pos):
        return bisect.bisect_right(self.line_starts, pos)

    def local_decls(self):
        """{name: sorted [(offset, kind, text)]} of every val, var,
        parameter and binder in the file; kind is typed | init | unknown."""
        if self.decls is None:
            self.decls = {}
            for rx, kind in LOCAL_DECL_RES:
                for m in rx.finditer(self.code):
                    text = m.group(2).strip() if m.lastindex > 1 else None
                    self.decls.setdefault(m.group(1), []).append((m.start(), kind, text))
            for m in BINDERS_RE.finditer(self.code):
                for b in re.findall(IDENT, m.group(1)):
                    self.decls.setdefault(b, []).append((m.start(), "unknown", None))
            for v in self.decls.values():
                v.sort()
        return self.decls

    def in_import(self, pos):
        return any(a <= pos < b for a, b in self.import_spans)


def brace_map(struct):
    """The matching '}' offset of every '{' offset."""
    match, stack = {}, []
    for i, c in enumerate(struct):
        if c == "{":
            stack.append(i)
        elif c == "}" and stack:
            match[stack.pop()] = i
    return match


def closing(s, i):
    """Offset of the bracket closing the one at `i`."""
    depth = 0
    for k in range(i, len(s)):
        if s[k] in "([{":
            depth += 1
        elif s[k] in ")]}":
            depth -= 1
            if depth == 0:
                return k
    return len(s) - 1


def split_top(text):
    """Split at the commas outside brackets: [(piece, offset)]; a blank
    last piece (an empty list, or a string literal blanked out) stays."""
    out, depth, last = [], 0, 0
    for k, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            out.append((text[last:k], last))
            last = k + 1
    out.append((text[last:], last))
    return out


def top_assign(text):
    """Offset of the first `=` outside brackets that is no `=>`, `==`,
    `<=`, `>=` or `!=`, or -1."""
    depth = 0
    for k, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0 and text[k + 1:k + 2] not in ("=", ">") \
                and (k == 0 or text[k - 1] not in "=<>!"):
            return k
    return -1


PARAM_RE = re.compile(r"^\s*(?:@\w+(?:\([^)]*\))?\s+)*"
                      r"(?:(?:implicit|override|final|private|protected|val|var)\s+)*"
                      r"(" + IDENT + r")\s*:")


def signature(s, i, kind):
    """From just past a def's or class's name: (explicit parameter
    lists as [[(name, has_default)]], declared type text or None)."""
    n = len(s)

    def ws(i, newlines=True):
        while i < n and (s[i] in " \t" or (newlines and s[i] in "\r\n")):
            i += 1
        return i

    i = ws(i, False)
    if i < n and s[i] == "[":
        i = ws(closing(s, i) + 1, False)
    if kind == "class":
        m = re.match(r"(?:private|protected)(?:\[\w*\])?\s*", s[i:])
        i = ws(i + m.end(), False) if m else i
    lists = []
    while i < n and s[i] == "(":
        k = closing(s, i)
        body = s[i + 1:k]
        if not re.match(r"\s*implicit\b", body):
            params = []
            for piece, _ in split_top(body):
                pm = PARAM_RE.match(piece)
                if pm:
                    params.append((pm.group(1), top_assign(piece[pm.end():]) >= 0))
            lists.append(params)
        i = ws(k + 1)
    rtype = None
    if kind in ("def", "val", "var") and i < n and s[i] == ":" and s[i + 1:i + 2] != ":":
        j = i + 1
        depth = 0
        while j < n:
            c = s[j]
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif depth == 0 and (c in "{\n" or (c == "=" and s[j + 1:j + 2] != ">")):
                break
            j += 1
        rtype = s[i + 1:j].strip()
    return lists, rtype


def header_end(struct, i):
    """From just past a template name, return (body_open or None, end)."""
    n, depth = len(struct), 0
    while i < n:
        c = struct[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            if c == "{":
                return i, i
            if c in "};":
                return None, i
            if c == "\n":
                nxt = struct[i + 1:i + 200].lstrip()
                if not (nxt.startswith("extends") or nxt.startswith("with")
                        or nxt.startswith("{")):
                    return None, i
        i += 1
    return None, n


def member_end(struct, start, limit):
    """End of a def/val/type starting at `start`: the first later line
    that is no deeper than the definition's line and does not close a
    bracket it opened."""
    ls = struct.rfind("\n", 0, start) + 1
    indent = len(struct[ls:start]) - len(struct[ls:start].lstrip())
    pos = struct.find("\n", start)
    if pos < 0 or pos >= limit:
        return limit
    while pos < limit:
        nxt = struct.find("\n", pos + 1)
        nxt = limit if nxt < 0 or nxt > limit else nxt
        line = struct[pos + 1:nxt]
        if line.strip():
            ind = len(line) - len(line.lstrip())
            if ind < indent or (ind == indent and line.lstrip()[0] not in ")]}."):
                return pos + 1
        pos = nxt
    return limit


def parse(sf):
    s = sf.struct
    match = brace_map(s)
    opens = sorted(match)
    # innermost '{' enclosing each definition
    defs = list(DEF_RE.finditer(s))
    stack, oi, enclosing = [], 0, []
    for m in defs:
        p = m.start(2)
        while oi < len(opens) and opens[oi] < p:
            while stack and match[stack[-1]] < opens[oi]:
                stack.pop()
            stack.append(opens[oi])
            oi += 1
        while stack and match[stack[-1]] < p:
            stack.pop()
        enclosing.append(stack[-1] if stack else None)
    body_owner = {}   # '{' offset -> template Sym
    for m, enc in zip(defs, enclosing):
        mods, kind, name = m.group(1), m.group(2), m.group(3)
        if enc is None:
            owner = None
        elif enc in body_owner:
            owner = body_owner[enc]
        else:
            continue      # local definition
        if owner is None and kind not in TEMPLATE_KINDS:
            continue
        start = m.start()
        if kind in TEMPLATE_KINDS:
            body, hend = header_end(s, m.end())
            end = match.get(body, hend) + 1 if body is not None else hend
            sym = Sym(kind, name, owner, sf, start, end, mods)
            sym.header = (m.end(), body if body is not None else hend)
            if body is not None:
                body_owner[body] = sym
            sf.templates.append(sym)
        else:
            limit = match[enc] if enc is not None else len(s)
            sym = Sym(kind, name, owner, sf, start, member_end(s, start, limit), mods)
        if kind in ("def", "class", "val", "var"):
            sym.params, sym.rtype = signature(s, m.end(), kind)
            if kind == "val" and sym.rtype is None:
                eq = s.find("=", m.end(), sym.end)
                if eq >= 0:
                    sym.init = sf.code[eq + 1:sym.end].strip()
        if owner is not None:
            owner.member_names.add(name)
            owner.members.setdefault(name, []).append(sym)
        sf.syms.append(sym)
    for m in IMPORT_RE.finditer(s):
        sf.import_spans.append((m.start(), m.end()))
        sel = m.group(2)
        segs = m.group(1).split(".")
        if sel is None:
            sf.imports.append((segs[:-1], {segs[-1]: segs[-1]}, m.start()))
        elif sel == "_":
            sf.imports.append((segs, None, m.start()))
        else:
            names = {}
            for item in sel.strip("{}").split(","):
                item = item.strip()
                if not item:
                    continue
                if item == "_":
                    sf.imports.append((segs, None, m.start()))
                elif "=>" in item:
                    a, b = (x.strip() for x in item.split("=>"))
                    if b != "_":
                        names[b] = a
                else:
                    names[item] = item
            if names:
                sf.imports.append((segs, names, m.start()))


def arg_lists(sf, i):
    """The argument lists of a call whose callee ends at `i`: one list
    of (name or None) per `(...)` or `{...}`, or None when none follows."""
    s = sf.struct
    n = len(s)

    def ws(i):
        while i < n and s[i] in " \t":
            i += 1
        return i

    i = ws(i)
    if i < n and s[i] == "[":
        i = ws(closing(s, i) + 1)
    out = []
    while i < n and s[i] in "({":
        k = closing(s, i)
        if s[i] == "{":
            out.append([None])
        elif not sf.code[i + 1:k].strip():
            out.append([])
        else:
            args = []
            for piece, _ in split_top(s[i + 1:k]):
                am = re.match(r"\s*(" + IDENT + r")\s*=(?![=>])", piece)
                args.append(am.group(1) if am else None)
            out.append(args)
        i = ws(k + 1)
    return out or None


def bound(sym, lists):
    """Names of `sym`'s parameters that the argument lists set; every
    parameter when `lists` is None (the def is passed as a value)."""
    if lists is None:
        return {p for ps in sym.params for p, _ in ps}
    out = set()
    for ps, args in zip(sym.params, lists):
        names = [p for p, _ in ps]
        for k, a in enumerate(args):
            if a is not None:
                out.add(a)
            elif k < len(names):
                out.add(names[k])
    return out


class Selection:
    """`recv.name` where the receiver's type is not known statically:
    `kind` is this | typed | unknown | none (a non-repo type)."""
    __slots__ = ("name", "sf", "pos", "kind", "tpe", "end", "applied")

    def __init__(self, name, sf, pos, kind, tpe, end, applied):
        self.name, self.sf, self.pos, self.kind = name, sf, pos, kind
        self.tpe, self.end, self.applied = tpe, end, applied


class Index:
    def __init__(self, files):
        self.files = files
        self.packages = {}     # package -> {name: [Sym]}
        self.subpackages = {}  # package -> {segment}
        for sf in files:
            parse(sf)
            pkg = sf.package
            parts = pkg.split(".") if pkg else []
            for k in range(len(parts)):
                self.subpackages.setdefault(".".join(parts[:k]), set()).add(parts[k])
            for sym in sf.syms:
                if sym.owner is None:
                    self.packages.setdefault(pkg, {}).setdefault(sym.name, []).append(sym)
        self.by_qual = {}
        for sf in files:
            for sym in sf.syms:
                sym.qual = self.qualify(sym)
                self.by_qual.setdefault(sym.qual, []).append(sym)
        for sf in files:
            sf.resolved_imports = self.resolve_imports(sf)
        for sf in files:
            for t in sf.templates:
                self.resolve_parents(sf, t)
        # every repo type name, and the names of each type and its subtypes
        self.type_names = {t.name for sf in files for t in sf.templates if t.kind != "object"}
        self.family = {}
        for sf in files:
            for t in sf.templates:
                stack, seen = [t], set()
                while stack:
                    a = stack.pop()
                    if id(a) in seen:
                        continue
                    seen.add(id(a))
                    self.family.setdefault(id(a), {a.name}).add(t.name)
                    stack += a.parents
        self.family_re = {}
        self.cache = {}
        self.tokens = {}
        # the names of the values and defs whose declared type names a type
        self.typed_names = {}
        for sf in files:
            for s in sf.syms:
                if s.rtype:
                    for w in re.findall(IDENT, s.rtype):
                        self.typed_names.setdefault(w, set()).add(s.name)
        # name -> [(type, member)] over the members of classes and traits,
        # and name -> [class] over the default-valued class parameters
        self.class_members, self.case_fields = {}, {}
        for sf in files:
            for t in sf.templates:
                if t.kind != "object":
                    for name, ms in t.members.items():
                        self.class_members.setdefault(name, []).extend((t, m) for m in ms)
                for ps in t.params:
                    for p, d in ps:
                        if d:
                            self.case_fields.setdefault(p, []).append(t)

    def qualify(self, sym):
        names, s = [], sym
        while s is not None:
            names.append(s.name)
            s = s.owner
        pkg = sym.file.package
        return ".".join(([pkg] if pkg else []) + names[::-1])

    # -- lookup ------------------------------------------------------
    def members_of(self, target, name, seen=None):
        """Members named `name` of a package node or a template."""
        if isinstance(target, str):
            out = list(self.packages.get(target, {}).get(name, []))
            if name in self.subpackages.get(target, ()):
                out.append(f"{target}.{name}" if target else name)
            return out
        if seen is None:
            seen = set()
        if id(target) in seen:
            return []
        seen.add(id(target))
        out = list(target.members.get(name, []))
        for p in target.parents:
            out += self.members_of(p, name, seen)
        return out

    def enclosing(self, sf, pos):
        return [t for t in reversed(sf.templates) if t.start <= pos < t.end]

    def resolve_first(self, sf, pos, name, imports):
        for t in self.enclosing(sf, pos):
            if t.name == name and t.kind == "object":
                return [t]
            found = [m for m in self.members_of(t, name) if m is not t]
            if found:
                return found
        for targets, names in imports:
            if names and name in names:
                out = []
                for tg in targets:
                    out += self.members_of(tg, names[name])
                if out:
                    return out
        found = self.packages.get(sf.package, {}).get(name, [])
        if found:
            return list(found)
        out = []
        for targets, names in imports:
            if names is None:
                for tg in targets:
                    out += self.members_of(tg, name)
        if out:
            return out
        if name in self.subpackages.get("", ()):
            return [name]
        return []

    def resolve_chain(self, sf, pos, segs, imports=None):
        """(every Sym the dotted chain resolves through, what its last
        resolved segment names, how many segments resolved)."""
        if imports is None:
            imports = sf.resolved_imports
        cur = self.resolve_first(sf, pos, segs[0], imports)
        if not cur:
            return [], [], 0
        hits = [c for c in cur if isinstance(c, Sym)]
        for k, seg in enumerate(segs[1:], 1):
            nxt = []
            for c in cur:
                if isinstance(c, str) or c.kind == "object":
                    nxt += self.members_of(c, seg)
            if not nxt:
                return hits, cur, k
            cur = nxt
            hits += [c for c in cur if isinstance(c, Sym)]
        return hits, cur, len(segs)

    def resolve_imports(self, sf):
        out = []
        for segs, names, pos in sf.imports:
            if segs and segs[0] in self.subpackages.get("", ()):
                cur = [segs[0]]
                for seg in segs[1:]:
                    cur = [x for c in cur if isinstance(c, str) or c.kind == "object"
                           for x in self.members_of(c, seg)]
            else:
                _, cur, _ = self.resolve_chain(sf, pos, segs, out) if segs else (None, [], 0)
            targets = [c for c in cur if isinstance(c, str) or c.kind == "object"]
            if targets:
                out.append((targets, names))
        return out

    def resolve_parents(self, sf, t):
        hs, he = t.header
        text = sf.code[hs:he]
        m = re.search(r"\bextends\b", text)
        if not m:
            return
        depth, clean = 0, []
        for c in text[m.end():]:   # drop constructor arguments and type args
            depth += c in "(["
            if depth == 0:
                clean.append(c)
            depth -= c in ")]"
        for cm in CHAIN_RE.finditer("".join(clean)):
            segs = [x.strip() for x in cm.group(0).split(".")]
            if segs == ["with"]:
                continue
            _, cur, _ = self.resolve_chain(sf, hs, segs)
            syms = [c for c in cur if isinstance(c, Sym) and c.is_template()]
            if syms:
                t.parents += syms
            elif segs[-1] not in NEUTRAL_PARENTS:
                t.external_parent = True

    # -- receiver types ------------------------------------------------
    def type_of(self, sym, depth=0):
        """Declared type text of a value or def, or what its
        initializer constructs or returns; None when unknown."""
        if sym.rtype:
            return sym.rtype
        if sym.init and depth < 3:
            return self.type_of_expr(sym.file, sym.start, sym.init, depth + 1)
        return None

    def type_of_expr(self, sf, pos, text, depth=0):
        m = re.match(r"(?:new\s+)?(" + IDENT + r"(?:\s*\.\s*" + IDENT + r")*)", text)
        if not m:
            return None
        segs = [x.strip() for x in m.group(1).split(".")]
        if segs[-1] in self.type_names:
            return segs[-1]
        _, cur, k = self.resolve_chain(sf, pos, segs)
        vals = [c for c in cur if isinstance(c, Sym) and not c.is_template()]
        if k == len(segs) and vals:
            return self.type_of(vals[0], depth)
        return None

    def local_type(self, sf, pos, name):
        """Type of the local, parameter or field `name` declared last
        before `pos` in the file: ("typed", text) or ("unknown", None)."""
        found = sf.local_decls().get(name, [])
        k = bisect.bisect_left(found, (pos,)) - 1
        if k < 0:
            return "unknown", None
        at, kind, text = found[k]
        if kind == "init":
            text = self.type_of_expr(sf, at, text)
            kind = "typed" if text else "unknown"
        return kind, text

    def selections_in(self, sf, a, b, skip=()):
        """Selections `recv.name` in [a, b) whose receiver is a value."""
        out = []

        def add(name, pos, kind, tpe, end):
            rest = sf.code[end:end + 2].lstrip()
            out.append(Selection(name, sf, pos, kind, tpe, end, rest[:1] in ("(", "{")))

        def deeper(tpe):
            # a selection on a selection: still none when the root type
            # names no repo type, else unknown
            if tpe is None or self.names_repo_type(tpe):
                return "unknown"
            return "none"

        i = bisect.bisect_left(sf.chain_pos, a)
        while i < len(sf.chains) and sf.chains[i][0] < b:
            pos, segs, _, end = sf.chains[i]
            i += 1
            if len(segs) < 2 or any(s <= pos < e for s, e in skip) or sf.in_import(pos):
                continue
            ends = [m.end() + pos for m in re.finditer(IDENT, sf.code[pos:end])]
            if segs[0] in ("this", "super"):
                add(segs[1], pos, "this", None, ends[1])
                for k in range(2, len(segs)):
                    add(segs[k], pos, "unknown", None, ends[k])
                continue
            if segs[0] == "_":
                kind, tpe, k0 = "unknown", None, 1
            else:
                _, cur, k0 = self.resolve_chain(sf, pos, segs)
                if k0 == len(segs):
                    continue
                if k0 == 0:
                    kind, tpe = self.local_type(sf, pos, segs[0])
                    k0 = 1
                else:
                    vals = [c for c in cur if isinstance(c, Sym) and not c.is_template()]
                    if not vals:
                        continue
                    tpe = self.type_of(vals[0])
                    kind = "typed" if tpe else "unknown"
            for k in range(k0, len(segs)):
                add(segs[k], pos, kind, tpe, ends[k])
                kind = deeper(tpe) if kind == "typed" else kind
        i = bisect.bisect_left(sf.tail_pos, a)
        while i < len(sf.tails) and sf.tails[i][0] < b:
            pos, segs = sf.tails[i]
            i += 1
            if not any(s <= pos < e for s, e in skip):
                for name, end in segs:
                    add(name, pos, "unknown", None, end)
        return out

    def names_repo_type(self, text):
        key = ("type", text)
        if key not in self.cache:
            self.cache[key] = any(w in self.type_names for w in re.findall(IDENT, text))
        return self.cache[key]

    def mentions(self, text, t):
        if id(t) not in self.family_re:
            names = sorted(self.family.get(id(t), {t.name}))
            self.family_re[id(t)] = re.compile(r"\b(?:" + "|".join(map(re.escape, names)) + r")\b")
        return self.family_re[id(t)].search(text) is not None

    def could_be(self, sel, t):
        """Whether the receiver of `sel` may be an instance of type `t`."""
        if sel.kind == "this":
            return any(id(t) in self.ancestors(e) for e in self.enclosing(sel.sf, sel.pos))
        if sel.kind == "typed":
            return self.mentions(sel.tpe, t)
        if sel.kind == "unknown":
            return self.knows(sel.sf, t)
        return False

    def knows(self, sf, t):
        """Whether the file names type `t` (or a subtype), or a value or
        def declared to hold one."""
        key = ("file", id(sf), id(t))
        if key not in self.cache:
            if id(sf) not in self.tokens:
                self.tokens[id(sf)] = set(re.findall(IDENT, sf.struct))
            names = set(self.family.get(id(t), {t.name}))
            for n in list(names):
                names |= self.typed_names.get(n, set())
            self.cache[key] = sf is t.file or not names.isdisjoint(self.tokens[id(sf)])
        return self.cache[key]

    def ancestors(self, t):
        out, stack = set(), [t]
        while stack:
            a = stack.pop()
            if id(a) not in out:
                out.add(id(a))
                stack += a.parents
        return out

    # -- references ----------------------------------------------------
    def refs_in(self, sf, a, b, skip=()):
        """Syms referenced by the chains in [a, b), skipping sub-ranges."""
        out = []
        i = bisect.bisect_left(sf.chain_pos, a)
        while i < len(sf.chains) and sf.chains[i][0] < b:
            pos, segs, applied, _ = sf.chains[i]
            i += 1
            if any(s <= pos < e for s, e in skip):
                continue
            hits, cur, k = self.resolve_chain(sf, pos, segs)
            out += hits
            if applied and k == len(segs):
                for c in cur:
                    if isinstance(c, Sym) and c.kind == "object":
                        out += c.members.get("apply", []) + c.members.get("unapply", [])
        return out

    def calls_in(self, sf, a, b, skip=()):
        """(callee Sym, argument lists or None) for the calls in [a, b)
        that a chain resolves statically."""
        out = []
        i = bisect.bisect_left(sf.chain_pos, a)
        while i < len(sf.chains) and sf.chains[i][0] < b:
            pos, segs, _, end = sf.chains[i]
            i += 1
            if any(s <= pos < e for s, e in skip) or sf.in_import(pos) \
                    or pos in sf.decl_names:
                continue
            _, cur, k = self.resolve_chain(sf, pos, segs)
            if k != len(segs):
                continue
            lists = arg_lists(sf, end)
            # a bare name that is not applied may be a local that shadows
            # a member; only `Owner.name` or `name _` passes a def as a value
            eta = len(segs) > 1 or re.match(r"\s+_(?!\w)", sf.code[end:end + 4])
            for c in cur:
                if not isinstance(c, Sym):
                    continue
                if c.kind == "object":
                    if lists is not None:
                        out += [(ap, lists) for ap in c.members.get("apply", [])]
                elif c.params and (lists is not None or (c.kind == "def" and eta)):
                    out.append((c, lists))
        return out


TAIL_RE = re.compile(r"[)\]}\"]\s*\.\s*(" + IDENT + r"(?:\s*\.\s*" + IDENT + r")*)")
DECL_BEFORE_RE = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+$")
LOCAL_DECL_RES = [
    (re.compile(r"\b(?:val|var)\s+(" + IDENT + r")\s*:\s*([^=\n]+?)\s*="), "typed"),
    (re.compile(r"\b(?:val|var)\s+(" + IDENT + r")\s*=\s*([^\n]*)"), "init"),
    (re.compile(r"[(,]\s*(?:implicit\s+)?(?:(?:val|var)\s+)?(" + IDENT
                + r")\s*:\s*([^,)=\n]+)"), "typed"),
    (re.compile(r"\b(" + IDENT + r")\s*(?:=>|<-)"), "unknown"),
    (re.compile(r"\bcase\s+(" + IDENT + r")\b"), "unknown"),
]
BINDERS_RE = re.compile(r"\(([\w\s,]*)\)\s*=>")


class Closure:
    def __init__(self, index):
        self.index = index
        self.live = set()
        self.order = []         # live syms, in marking order
        self.selections = {}    # name -> [Selection] in reached code
        self.work = []

    def mark(self, sym):
        self.work.append(sym)
        self.drain()

    def drain(self):
        work = self.work
        while work:
            s = work.pop()
            if id(s) in self.live:
                continue
            self.live.add(id(s))
            self.order.append(s)
            if s.owner is not None:
                work.append(s.owner)
            sf = s.file
            a, b, skip = s.own_range()
            work += self.index.refs_in(sf, a, b, skip)
            for sel in self.index.selections_in(sf, a, b, skip):
                self.selections.setdefault(sel.name, []).append(sel)
            if s.is_template():
                work += s.parents
                parent_names = set()
                for p in s.parents:
                    parent_names |= p.member_names
                for ms in s.members.values():
                    for m in ms:
                        if s.external_parent or m.override or m.name in parent_names \
                                or not re.match(IDENT, m.name):   # an operator, used infix
                            work.append(m)

    def settle(self):
        """Reach the class and trait members that a selection in reached
        code may call, until nothing more is reached."""
        while True:
            self.drain()
            for t in [s for s in self.order if s.kind in ("class", "trait")]:
                for name, ms in t.members.items():
                    sels = self.selections.get(name)
                    if sels and any(id(m) not in self.live for m in ms) \
                            and any(self.index.could_be(x, t) for x in sels):
                        self.work += ms
            if not self.work:
                return

    def mark_all(self, sym):
        self.mark(sym)
        for ms in sym.members.values():
            for m in ms:
                self.mark_all(m)

    def is_live(self, sym):
        return id(sym) in self.live


def load(root):
    files = []
    for tree, role in [(MAIN_TREE, "main")] + [(t, "spec") for t in SPEC_TREES] + \
            [("perfbench/src/main/scala", "root")]:
        base = os.path.join(root, tree)
        for d, _, names in os.walk(base):
            for name in sorted(names):
                if name.endswith(".scala"):
                    p = os.path.join(d, name)
                    rel = os.path.relpath(p, root)
                    r = role
                    if role == "main" and any(rel.startswith(t + "/") for t in ROOT_TREES):
                        r = "root"
                    with open(p, encoding="utf-8") as f:
                        files.append(SourceFile(rel, f.read(), r))
    return Index(files)


ALLOW_PARAM_RE = re.compile(r"^([\w.$]+)\((" + IDENT + r")\)$")


def read_allow(path):
    """({qualified name: reason}, {(qualified def, param): reason}, errors)."""
    entries, params, errors = {}, {}, []
    if not os.path.exists(path):
        return entries, params, errors
    with open(path, encoding="utf-8") as f:
        for ln, line in enumerate(f, 1):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            name, _, reason = line.partition(":")
            name, reason = name.strip(), reason.strip()
            if not reason:
                errors.append(f"{path}:{ln}: `{name}` gives no reason")
            elif "(" in name or ")" in name:
                m = ALLOW_PARAM_RE.match(name)
                if m:
                    params[(m.group(1), m.group(2))] = reason
                else:
                    errors.append(f"{path}:{ln}: `{name}` is not `Owner.def(param)`")
            else:
                entries[name] = reason
    return entries, params, errors


def roots(index):
    out = []
    for sf in index.files:
        for sym in sf.syms:
            if sym.owner is None and sf.role == "root":
                out.append((sym, True))
            elif sym.owner is None and sf.role == "main" and sym.kind == "object" \
                    and "main" in sym.members:
                out += [(m, False) for m in sym.members["main"]]
    for q in ROOT_SYMBOLS:
        out += [(s, True) for s in index.by_qual.get(q, [])]
    return out


def closure(index, allow=()):
    c = Closure(index)
    for sym, whole in roots(index):
        (c.mark_all if whole else c.mark)(sym)
    for name in allow:
        for s in index.by_qual.get(name, []):
            c.mark_all(s)
    c.settle()
    return c


def setters(index, ranges):
    """{id(def): names of its parameters that a call sets}, over the
    (file, start, end, skipped sub-ranges) code ranges."""
    out = {}
    for sf, a, b, skip in ranges:
        for callee, lists in index.calls_in(sf, a, b, skip):
            out.setdefault(id(callee), set()).update(bound(callee, lists))
        for sel in index.selections_in(sf, a, b, skip):
            lists = arg_lists(sf, sel.end) if sel.applied else None
            if sel.name == "copy" and lists:
                for name in (x for args in lists for x in args if x):
                    for t in index.case_fields.get(name, ()):
                        out.setdefault(id(t), set()).add(name)
            for t, m in index.class_members.get(sel.name, ()):
                if m.params and index.could_be(sel, t):
                    out.setdefault(id(m), set()).update(bound(m, lists))
    return out


def unset_params(index, full, kept, allow_params):
    """Default-valued parameters of reached public defs that no reached
    call sets: ([(qual, param, sym)], count of default-valued ones)."""
    live_set = setters(index, [(s.file, *s.own_range()) for s in full.order])
    found, total = [], 0
    for sf in index.files:
        if sf.role == "spec" or sf.rel.startswith("perfbench/"):
            continue
        for sym in sf.syms:
            if not full.is_live(sym) or sym.private or any(
                    id(o) in kept for o in owners(sym)):
                continue
            for ps in sym.params:
                for p, has_default in ps:
                    if not has_default:
                        continue
                    total += 1
                    if p not in live_set.get(id(sym), ()) and (sym.qual, p) not in allow_params:
                        found.append((sym.qual, p, sym))
    return found, total, live_set


def owners(sym):
    while sym is not None:
        yield sym
        sym = sym.owner


def analyse(root, allow_path):
    index = load(root)
    allow, allow_params, errors = read_allow(allow_path)
    base = closure(index)
    for name in allow:
        syms = index.by_qual.get(name, [])
        if not syms:
            errors.append(f"allow-list entry `{name}` names no definition")
        elif all(base.is_live(s) for s in syms):
            errors.append(f"allow-list entry `{name}` is reached from an entry point; drop it")
    full = closure(index, allow)
    kept = {id(s) for name in allow for s in index.by_qual.get(name, [])}
    specs = [sf for sf in index.files if sf.role == "spec"]
    spec_refs = {}
    for sf in specs:
        for s in index.refs_in(sf, 0, len(sf.code)):
            spec_refs.setdefault(id(s), set()).add(os.path.basename(sf.rel))
        for sel in index.selections_in(sf, 0, len(sf.code)):
            for t, m in index.class_members.get(sel.name, ()):
                if index.could_be(sel, t):
                    spec_refs.setdefault(id(m), set()).add(os.path.basename(sf.rel))
    comment_words = set()
    for sf in index.files:
        if sf.role != "spec":
            for c in sf.comments:
                comment_words.update(re.findall(IDENT, c))
    found = []
    for sf in index.files:
        if sf.role != "main":
            continue
        for sym in sf.syms:
            if full.is_live(sym) or (sym.owner is not None and not full.is_live(sym.owner)):
                continue
            names = sorted(spec_refs.get(id(sym), ()))
            if names:
                why = "only specs reference it (" + ", ".join(names) + ")"
            elif sym.name in comment_words:
                why = "only comments mention it"
            else:
                why = "nothing references it"
            found.append((sym.qual, f"{sf.rel}:{sf.line_of(sym.start)}", sym.kind, why))
    params, total, live_set = unset_params(index, full, kept, allow_params)
    spec_set = {}
    for sf in specs:
        for k, v in setters(index, [(sf, 0, len(sf.code), ())]).items():
            for p in v:
                spec_set.setdefault((k, p), set()).add(os.path.basename(sf.rel))
    for q, p, sym in params:
        names = sorted(spec_set.get((id(sym), p), ()))
        why = ("only specs set it (" + ", ".join(names) + ")") if names else "nothing sets it"
        found.append((f"{q}({p})", f"{sym.file.rel}:{sym.file.line_of(sym.start)}",
                      "param", why))
    for (q, p), _ in sorted(allow_params.items()):
        syms = [s for s in index.by_qual.get(q, []) if any(
            x == p and d for ps in s.params for x, d in ps)]
        if not syms:
            errors.append(f"allow-list entry `{q}({p})` names no default-valued parameter")
        elif all(p in live_set.get(id(s), ()) for s in syms):
            errors.append(f"allow-list entry `{q}({p})` is set from an entry point; drop it")
    found.sort()
    return found, errors, total


def report(found, errors, total, out=sys.stdout):
    for q, where, kind, why in found:
        print(f"unreached {kind} {q}  {where}  {why}", file=out)
    for e in errors:
        print(f"error: {e}", file=out)
    nparams = sum(1 for f in found if f[2] == "param")
    print(f"spec_only_defs: {len(found) - nparams} unreached definition(s), "
          f"{nparams} unset default parameter(s) of {total}, "
          f"{len(errors)} allow-list error(s)", file=out)
    return 1 if found or errors else 0


SELF_TEST_TREE = {
    "src/main/scala/demo/Main.scala": '''package demo

import demo.text.Text

object Main {
  def main(args: Array[String]): Unit = {
    // Util.linked is mentioned here only in a comment
    println(Text.passages(3) + Stream.withinWatermark(1))
    val expr = "demo.Util.codegenOnly(x)"
    println(expr + Util.live() + Codec(2))
    println(Util.tuned(1) + Util.byName(1, k = 5) + Util.byPos(1, 5) + Util.label(1, "y"))
    println(new Box(2).used)
    val v: Vocab = Vocab(Seq("a"))
    println(v.pieces.length)
  }
}
''',
    "src/main/scala/demo/text/Text.scala": '''package demo.text

object Text {
  /** Same contract as [[demo.Util.linked]]. */
  def passages(n: Int): Int = n + 1
}
''',
    "src/main/scala/demo/Stream.scala": '''package demo

object Stream {
  def withinWatermark(n: Int): Int =
    n * 2

  /** A twin of Text.passages that nothing runs. */
  def passages(n: Int): Int = {
    helper(n)
  }

  private def helper(n: Int): Int = n
}
''',
    "src/main/scala/demo/Util.scala": '''package demo

object Util {
  def live(): Int = 1
  def specOnly(s: String): String = s.trim
  def linked: Int = 2
  def codegenOnly(s: String): String = s
  def tuned(n: Int, k: Int = 3): Int = n * k
  def byName(n: Int, k: Int = 3): Int = n * k
  def byPos(n: Int, k: Int = 3): Int = n * k
  def label(n: Int, tag: String = "x"): String = tag * n
}

object Codec {
  def apply(n: Int): Int = n
}
''',
    "src/main/scala/demo/Box.scala": '''package demo

class Box(val n: Int) {
  def used: Int = n
  def unused: Int = n + 1
}

final case class Vocab(pieces: Seq[String]) {
  require(pieces.size > 0)
  def size: Int = pieces.size + 1
}

object Keep {
  def run(x: Int = 1): Int = x
}
''',
    "src/test/scala/demo/UtilSpec.scala": '''package demo

class UtilSpec {
  assert(Util.specOnly(" a ") == "a")
  assert(Stream.passages(1) == 1)
  assert(Util.tuned(1, k = 4) == 4)
}
''',
}

SELF_TEST_ALLOW = """demo.Util.linked: kept as a reference form
demo.Util.specOnly:
demo.Util.live: reached anyway
demo.Keep: kept whole, with its parameters
demo.Util.tuned(k): the spec-only form
demo.Util.tuned(k: malformed
demo.Util.byName(k): set from Main anyway
demo.Util.byPos(zz): no such parameter
"""


def self_test():
    with tempfile.TemporaryDirectory() as root:
        for rel, text in SELF_TEST_TREE.items():
            p = os.path.join(root, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w", encoding="utf-8") as f:
                f.write(text)
        global ROOT_SYMBOLS
        saved, ROOT_SYMBOLS = ROOT_SYMBOLS, ()
        try:
            found, errors, _ = analyse(root, os.path.join(root, "none.allow"))
            allow = os.path.join(root, "demo.allow")
            with open(allow, "w", encoding="utf-8") as f:
                f.write(SELF_TEST_ALLOW)
            found2, errors2, _ = analyse(root, allow)
        finally:
            ROOT_SYMBOLS = saved
    got = {q: why for q, _, _, why in found}
    want = {
        "demo.Util.specOnly": "only specs reference it",      # spec-only
        "demo.Stream.passages": "only specs reference it",    # collides with Text.passages
        "demo.Stream.helper": "nothing references it",        # used only by a dead def
        "demo.Util.linked": "only comments mention it",       # scaladoc link only
        "demo.Box.unused": "nothing references it",           # class member, no selection
        "demo.Vocab.size": "nothing references it",           # `pieces.size` is Seq's
        "demo.Keep": "nothing references it",
        "demo.Util.tuned(k)": "only specs set it",            # default only a spec overrides
    }
    problems = []
    if set(got) != set(want):
        problems.append(f"reported {sorted(got)}, expected {sorted(want)}")
    for q, prefix in want.items():
        if q in got and not got[q].startswith(prefix):
            problems.append(f"{q}: `{got[q]}`, expected `{prefix}…`")
    if errors:
        problems.append(f"unexpected errors {errors}")
    got2 = {q for q, *_ in found2}
    if got2 != {"demo.Util.specOnly", "demo.Stream.passages", "demo.Stream.helper",
                "demo.Box.unused", "demo.Vocab.size"}:
        problems.append(f"with an allow-list, reported {sorted(got2)}")
    expect_errors = [
        ("gives no reason", "demo.Util.specOnly"),
        ("reached from an entry point", "demo.Util.live"),
        ("is not `Owner.def(param)`", "demo.Util.tuned(k"),
        ("is set from an entry point", "demo.Util.byName(k)"),
        ("names no default-valued parameter", "demo.Util.byPos(zz)"),
    ]
    for text, name in expect_errors:
        if not any(text in e and name in e for e in errors2):
            problems.append(f"no `{text}` error for {name}: {errors2}")
    if len(errors2) != len(expect_errors):
        problems.append(f"allow-list errors {errors2}")
    for p in problems:
        print(f"self-test: FAIL {p}")
    if not problems:
        print("self-test: ok (spec-only, name-collision, comment-only, codegen-string, "
              "class-member, parameter and allow-list cases)")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--self-test", action="store_true",
                    help="check the scanner on a small synthetic tree")
    ap.add_argument("--root", default=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    root = os.path.abspath(args.root)
    found, errors, total = analyse(root, os.path.join(root, ALLOW_FILE))
    return report(found, errors, total)


if __name__ == "__main__":
    sys.exit(main())
