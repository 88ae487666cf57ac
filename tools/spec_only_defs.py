#!/usr/bin/env python3
"""Report the public Scala code that no entry point reaches.

The compiler's -Wunused sees private and local code only: a public def
whose only callers are specs compiles clean and keeps its tests green
long after the program stopped using it. This script follows references
from the program's entry points and prints every src/main definition
(object member, nested or top-level type) that the closure never
reaches, with whether a spec, a comment or nothing mentions it.

    python3 tools/spec_only_defs.py              # scan the repo, exit 1 on a finding
    python3 tools/spec_only_defs.py --self-test  # check the scanner on a synthetic tree

Entry points: every object in src/main with a `main` method, every
definition under src/main/scala/graft/queries/ and perfbench/src/main,
and the objects and classes named in ROOT_SYMBOLS (the driver's
`SparkEntry` and the data source Spark loads by name). Definitions on
the allow-list (tools/spec_only_defs.allow, one `name: reason` per
line) are kept on purpose: each counts as an entry point too, with all
of its members, and an entry that the entry points reach anyway, or
that names nothing, or that gives no reason, is an error.

How references are read:
  - comments are stripped, so a scaladoc `[[Owner.name]]` is no caller;
  - string literals are kept, so a codegen string such as
    "graft.functions.UnicodeNorm.normalizeJ(...)" is a call;
  - a reference resolves by owner: `Owner.name`, `Owner(...)` (which
    reaches `Owner.apply`), explicit and wildcard imports, the enclosing
    objects and their parents, and the file's package. A bare name
    that none of these define reaches nothing, so a dead def that
    shares its name with a live one in another object is still found.

Members of classes and traits are not tracked one by one: a class is
reached as a whole. An object member that overrides a parent member, or
any member of an object whose parent lies outside the repo, is reached
with its object.
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
    """A definition: an object, class, trait, or an object's member."""

    def __init__(self, kind, name, owner, file, start, end, mods):
        self.kind, self.name, self.owner, self.file = kind, name, owner, file
        self.start, self.end = start, end   # offsets of its whole text
        self.override = "override" in mods
        self.members = {}       # name -> [Sym]; tracked for objects only
        self.member_names = set()
        self.parents = []       # resolved parent syms (templates)
        self.external_parent = False
        self.header = (start, start)
        self.qual = None

    def is_template(self):
        return self.kind in TEMPLATE_KINDS


class SourceFile:
    def __init__(self, rel, text, role):
        self.rel, self.role = rel, role   # role: main | root | spec
        self.code, self.struct, self.comments = lex(text)
        m = re.search(r"^\s*package\s+([\w.]+)", self.struct, re.M)
        self.package = m.group(1) if m else ""
        self.templates = []               # every template, outermost first
        self.syms = []
        self.imports = []                 # (path segments, selector)
        line_starts = [0] + [i + 1 for i, c in enumerate(text) if c == "\n"]
        self.line_starts = line_starts
        self.chains = []                  # (pos, [segments], applied)
        for m in CHAIN_RE.finditer(self.code):
            segs = [s.strip() for s in m.group(0).split(".")]
            rest = self.code[m.end():m.end() + 40].lstrip()
            self.chains.append((m.start(), segs, rest.startswith("(")))
        self.chain_pos = [c[0] for c in self.chains]

    def line_of(self, pos):
        return bisect.bisect_right(self.line_starts, pos)


def brace_map(struct):
    """The matching '}' offset of every '{' offset."""
    match, stack = {}, []
    for i, c in enumerate(struct):
        if c == "{":
            stack.append(i)
        elif c == "}" and stack:
            match[stack.pop()] = i
    return match


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
        if owner is not None:
            owner.member_names.add(name)
            if owner.kind == "object":
                owner.members.setdefault(name, []).append(sym)
                sf.syms.append(sym)
        else:
            sf.syms.append(sym)
    for m in IMPORT_RE.finditer(s):
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
        resolved segment names, whether every segment resolved)."""
        if imports is None:
            imports = sf.resolved_imports
        cur = self.resolve_first(sf, pos, segs[0], imports)
        hits = [c for c in cur if isinstance(c, Sym)]
        for seg in segs[1:]:
            nxt = []
            for c in cur:
                if isinstance(c, str) or c.kind == "object":
                    nxt += self.members_of(c, seg)
            if not nxt:
                return hits, cur, False
            cur = nxt
            hits += [c for c in cur if isinstance(c, Sym)]
        return hits, cur, bool(cur)

    def resolve_imports(self, sf):
        out = []
        for segs, names, pos in sf.imports:
            if segs and segs[0] in self.subpackages.get("", ()):
                cur = [segs[0]]
                for seg in segs[1:]:
                    cur = [x for c in cur if isinstance(c, str) or c.kind == "object"
                           for x in self.members_of(c, seg)]
            else:
                _, cur, _ = self.resolve_chain(sf, pos, segs, out) if segs else (None, [], False)
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

    # -- references ----------------------------------------------------
    def refs_in(self, sf, a, b, skip=()):
        """Syms referenced by the chains in [a, b), skipping sub-ranges."""
        out = []
        i = bisect.bisect_left(sf.chain_pos, a)
        while i < len(sf.chains) and sf.chains[i][0] < b:
            pos, segs, applied = sf.chains[i]
            i += 1
            if any(s <= pos < e for s, e in skip):
                continue
            hits, cur, complete = self.resolve_chain(sf, pos, segs)
            out += hits
            if applied and complete:
                for c in cur:
                    if isinstance(c, Sym) and c.kind == "object":
                        out += c.members.get("apply", []) + c.members.get("unapply", [])
        return out


class Closure:
    def __init__(self, index):
        self.index = index
        self.live = set()

    def mark(self, sym):
        work = [sym]
        while work:
            s = work.pop()
            if id(s) in self.live:
                continue
            self.live.add(id(s))
            if s.owner is not None:
                work.append(s.owner)
            sf = s.file
            if s.kind == "object":
                skip = [(m.start, m.end) for ms in s.members.values() for m in ms]
                work += self.index.refs_in(sf, s.start, s.end, skip)
                parent_names = set()
                for p in s.parents:
                    parent_names |= p.member_names
                for ms in s.members.values():
                    for m in ms:
                        if s.external_parent or m.override or m.name in parent_names:
                            work.append(m)
            else:
                work += self.index.refs_in(sf, s.start, s.end)
                work += s.parents

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


def read_allow(path):
    entries, errors = {}, []
    if not os.path.exists(path):
        return entries, errors
    with open(path, encoding="utf-8") as f:
        for ln, line in enumerate(f, 1):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            name, _, reason = line.partition(":")
            name, reason = name.strip(), reason.strip()
            if reason:
                entries[name] = reason
            else:
                errors.append(f"{path}:{ln}: `{name}` gives no reason")
    return entries, errors


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


def analyse(root, allow_path):
    index = load(root)
    allow, errors = read_allow(allow_path)
    base = Closure(index)
    for sym, whole in roots(index):
        (base.mark_all if whole else base.mark)(sym)
    for name in allow:
        syms = index.by_qual.get(name, [])
        if not syms:
            errors.append(f"allow-list entry `{name}` names no definition")
        elif all(base.is_live(s) for s in syms):
            errors.append(f"allow-list entry `{name}` is reached from an entry point; drop it")
    full = Closure(index)
    full.live = set(base.live)
    for name in allow:
        for s in index.by_qual.get(name, []):
            full.mark_all(s)
    spec_refs = {}
    for sf in index.files:
        if sf.role == "spec":
            for s in index.refs_in(sf, 0, len(sf.code)):
                spec_refs.setdefault(id(s), set()).add(os.path.basename(sf.rel))
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
            specs = sorted(spec_refs.get(id(sym), ()))
            if specs:
                why = "only specs reference it (" + ", ".join(specs) + ")"
            elif sym.name in comment_words:
                why = "only comments mention it"
            else:
                why = "nothing references it"
            found.append((sym.qual, f"{sf.rel}:{sf.line_of(sym.start)}", sym.kind, why))
    found.sort()
    return found, errors


def report(found, errors, out=sys.stdout):
    for q, where, kind, why in found:
        print(f"unreached {kind} {q}  {where}  {why}", file=out)
    for e in errors:
        print(f"error: {e}", file=out)
    print(f"spec_only_defs: {len(found)} unreached definition(s), "
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
}

object Codec {
  def apply(n: Int): Int = n
}
''',
    "src/test/scala/demo/UtilSpec.scala": '''package demo

class UtilSpec {
  assert(Util.specOnly(" a ") == "a")
  assert(Stream.passages(1) == 1)
}
''',
}


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
            found, errors = analyse(root, os.path.join(root, "none.allow"))
            allow = os.path.join(root, "demo.allow")
            with open(allow, "w", encoding="utf-8") as f:
                f.write("demo.Util.linked: kept as a reference form\n"
                        "demo.Util.specOnly:\n"
                        "demo.Util.live: reached anyway\n")
            found2, errors2 = analyse(root, allow)
        finally:
            ROOT_SYMBOLS = saved
    got = {q: why for q, _, _, why in found}
    want = {
        "demo.Util.specOnly": "only specs reference it",      # spec-only
        "demo.Stream.passages": "only specs reference it",    # collides with Text.passages
        "demo.Stream.helper": "nothing references it",        # used only by a dead def
        "demo.Util.linked": "only comments mention it",       # scaladoc link only
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
    if got2 != {"demo.Util.specOnly", "demo.Stream.passages", "demo.Stream.helper"}:
        problems.append(f"with an allow-list, reported {sorted(got2)}")
    if not any("gives no reason" in e for e in errors2) \
            or not any("demo.Util.live" in e and "reached" in e for e in errors2):
        problems.append(f"allow-list errors {errors2}")
    for p in problems:
        print(f"self-test: FAIL {p}")
    if not problems:
        print("self-test: ok (spec-only, name-collision, comment-only and codegen-string cases)")
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
    found, errors = analyse(root, os.path.join(root, ALLOW_FILE))
    return report(found, errors)


if __name__ == "__main__":
    sys.exit(main())
