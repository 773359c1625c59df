#!/usr/bin/env python3
"""List the public object-level defs and the objects in src/main/scala that
nothing in src/main/scala or perfbench/src reaches.

Every public def in src/main should be reachable from an app (GraftApp,
DocIngestApp), a registered GraftQuery, Bench/Verify or perfbench. Code that
only specs reach is a second path or a test oracle and belongs in src/test.
This scan is the check for that rule.

References are searched in comment-stripped source; string literals are
kept, so a name reached only by string (reflection, SQL function names)
counts. A def `Obj.f` is reached when
  - `f` appears in its own file outside its own declaration (recursion
    inside its body does not count), or
  - another file names `Obj.f`, or imports `f` (or `_`) from `Obj` and
    uses `f`.
An object is reached when its name appears anywhere outside its own body.
Specs (src/test) never count.

Entry points started by name are roots. The named exceptions below are
printed with their reason; any other hit is printed as UNREACHED and the
script exits 1. So does an exception that no longer holds: one naming an
object or def the scan finds reached (DEAD EXCEPTION), or one that is not
declared at all (UNKNOWN EXCEPTION). Class members are outside the scan;
the deliberate ones are listed apart, so the whole set is here.

Run from anywhere:  python3 scripts/unreached_defs.py
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
BENCH = os.path.join(ROOT, "perfbench", "src")

# Entry points started by name (`runMain`, spark-submit, the driver contract).
ROOTS = {"GraftApp", "DocIngestApp", "Bench", "Verify"}

# Unreached on purpose: "Object" or "Object.def" -> reason. Each must name
# a declaration the scan finds unreached.
EXCEPTIONS = {
    "Pipelines.fanOutStateless":
        "ROADMAP item 2 decides between it and a staging query",
    "ExtensionsCheck":
        "scripts/check_extensions.sh spark-submits it against the built jar",
    "SparkEntry.entry":
        "the batch surface's smoke-check contract, called by name from outside",
}

# Class members unreached on purpose. The scan does not look inside classes,
# so these are printed, not checked.
OUTSIDE_SCAN = {
    "HealthServer.boundPort":
        "the port-0 test seam: a server bound to port 0 reports its port",
    "NioLocalFileSystem":
        "Hadoop instantiates it and calls its overrides from fs.file.impl",
}

# Members Scala or a framework calls without naming them at the call site.
IMPLICIT_MEMBERS = {"apply", "unapply", "main", "toString", "equals", "hashCode"}


def strip_comments(src):
    """Blank out // and /* */ comments; keep string and char literals."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def blank_strings(code):
    """Blank string literal contents so braces inside them do not count."""
    return re.sub(r'"""[\s\S]*?"""|"(\\.|[^"\\\n])*"',
                  lambda m: re.sub(r"[^\n]", " ", m.group(0)), code)


DECL_RE = re.compile(
    r"((?:\b(?:private|protected|override|final|implicit|lazy|sealed|abstract|"
    r"case)\b(?:\[[^\]]*\])?\s+)*)\b(object|class|trait|def|val|var|type)\s+"
    r"([A-Za-z_]\w*)")


def declarations(code):
    """Return (object, def or None, start, end) for each object outside a
    class and each def declared directly in such an object's body. [start,
    end) is the declaration's own text: up to the next declaration at the
    same depth, or the end of the enclosing block."""
    flat = blank_strings(code)
    marks = sorted([(m.start(), "decl", m) for m in DECL_RE.finditer(flat)] +
                   [(i, c, None) for i, c in enumerate(flat) if c in "{}"],
                   key=lambda t: t[0])
    out, open_decls = [], []   # open_decls: [entry, depth] awaiting an end
    depth, stack, pending = 0, [], None

    def close(at, d):
        for od in [od for od in open_decls if od[1] >= d]:
            od[0][3] = at
            open_decls.remove(od)

    for pos, kind, m in marks:
        if kind == "decl":
            close(pos, depth)
            mods, what, name = m.group(1), m.group(2), m.group(3)
            in_class = any(f[0] == "class" for f in stack)
            in_obj = bool(stack) and stack[-1][0] == "obj"
            hidden = re.search(r"\b(private|protected|override)\b", mods)
            entry = None
            if what == "object" and not in_class:
                entry = [name, None, pos, len(code)]
            elif what == "def" and in_obj and not hidden:
                entry = [stack[-1][1], name, pos, len(code)]
            if entry:
                out.append(entry)
                open_decls.append([entry, depth])
            pending = (("obj" if what == "object" else
                        "class" if what in ("class", "trait") else "block"),
                       name)
        elif kind == "{":
            kind_name = pending if pending and pending[0] != "block" else ("block", None)
            stack.append(kind_name)
            pending = None
            depth += 1
        else:
            depth -= 1
            if stack:
                stack.pop()
            close(pos + 1, depth + 1)
            pending = None
    return [tuple(e) for e in out]


def imports_member(text, obj, name):
    """True when `text` imports `name` (or everything) from `obj`."""
    for m in re.finditer(r"\bimport\s+[\w.]*\b%s\.(\{[^}]*\}|[\w_]+)" % re.escape(obj),
                         text):
        sel = m.group(1)
        if sel == "_" or re.search(r"(^|[{,\s])(_|%s)\b" % re.escape(name), sel.strip("{}")):
            return True
    return False


def reached(obj, name, start, end, own, others):
    """Whether the object (name None) or obj.name is referenced anywhere but
    in its own declaration."""
    word = re.compile(r"\b%s\b" % re.escape(name or obj))
    outside = own[:start] + " " + own[end:]
    if word.search(outside):
        return True
    if name is None:
        return any(word.search(t) for t in others)
    qualified = re.compile(r"\b%s\s*\.\s*%s\b" % (re.escape(obj), re.escape(name)))
    return any(qualified.search(t) or (imports_member(t, obj, name) and word.search(t))
               for t in others)


def scala_files(base):
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    texts = {p: strip_comments(open(p, encoding="utf-8").read())
             for base in (MAIN, BENCH) for p in scala_files(base)}
    main_files = [p for p in texts if p.startswith(MAIN + os.sep)]
    hits, excepted, declared, used = [], [], set(), set()
    for path in sorted(main_files):
        others = [t for q, t in texts.items() if q != path]
        for obj, name, start, end in declarations(texts[path]):
            key = obj if name is None else "%s.%s" % (obj, name)
            declared.add(key)
            if name is None and obj in ROOTS:
                continue
            if name in IMPLICIT_MEMBERS:
                continue
            if reached(obj, name, start, end, texts[path], others):
                continue
            rel = os.path.relpath(path, ROOT)
            entry = key if key in EXCEPTIONS else obj if obj in EXCEPTIONS else None
            if entry:
                used.add(entry)
                excepted.append("%s  %s  -- kept: %s" % (rel, key, EXCEPTIONS[entry]))
            else:
                hits.append("%s  %s" % (rel, key))
    stale = ["%s %s" % ("DEAD EXCEPTION" if e in declared else "UNKNOWN EXCEPTION", e)
             for e in sorted(set(EXCEPTIONS) - used)]
    for line in excepted:
        print(line)
    for key, why in sorted(OUTSIDE_SCAN.items()):
        print("(class member, outside the scan)  %s  -- kept: %s" % (key, why))
    for line in hits:
        print("UNREACHED " + line)
    for line in stale:
        print(line)
    print("%d unreached, %d kept on purpose, %d outside the scan, %d dead exceptions"
          % (len(hits), len(excepted), len(OUTSIDE_SCAN), len(stale)))
    return 1 if hits or stale else 0


if __name__ == "__main__":
    sys.exit(main())
