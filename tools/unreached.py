#!/usr/bin/env python3
"""Members of Scala `object`s that nothing the program runs can reach.

Usage: python3 tools/unreached.py   (from the repository root)

Build first: `sbt compile` for the engine's classes and one
`python3 perfbench/run.py ...` for the benchmark's. The script reads
`javap -c -p -s` over both, builds a call graph from the roots below and
prints one line per `object` with the members no root reaches:

    graft.ops.Dedup: minhashSignature, sourceOverlapMinhash

A whole object that nothing reaches is marked `(object)`; an overload is
printed with its JVM descriptor. Specs are not roots, so a member that
only a spec calls is printed. A name match (grep) cannot tell a call from
a mention in a string, a comment or a same-named member elsewhere; the
bytecode names only calls.
"""
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
PERFBENCH_CLASSES = os.path.join(ROOT, "perfbench", "target", "scala-2.13", "classes")
PERFBENCH_PACKAGE = os.path.join("graft", "perfbench")

# ---- the policy: roots, edges and what is left out of the report ----
# Members the program is entered by: the query registry the driver
# reads (every registered query hangs off it) and the four mains.
ROOT_MEMBERS = {
    "graft.SparkEntry$": ("entry", "queries", "oracleSql"),
    "graft.Bench$": ("main",),
    "graft.Verify$": ("main",),
    "graft.PlanAudit$": ("main",),
    "graft.RecallProbe$": ("main",),
}
# Every member of these classes and their nested classes: the shared
# measurement harness, the extension users name in spark.sql.extensions,
# and the benchmark.
ROOT_CLASSES = ("graft.Harness", "graft.GraftExtensions")
ROOT_PACKAGES = ("graft.perfbench.",)
# Every instance method of a class that is not an `object` is a root too:
# Spark and Scala call them (DataSource V2 callbacks, expression eval,
# aggregate buffers, case-class accessors). So a hook that only Spark
# calls, such as a planner strategy or an optimizer rule, is written as
# a class (`FirstPerKey.Strategy`, `BinnedRangeJoinRule`): as an `object`
# its `apply` would be reported, since no call to it is in the bytecode.
#
# Edges: these instructions, resolved up and down the class hierarchy
# (a call on a supertype reaches every override) ...
INVOKES = ("invokevirtual", "invokestatic", "invokespecial", "invokeinterface")
# ... plus, for a reached method m, the members scalac generates for it:
# its lambda bodies, its default arguments and its lazy-val initializer.
# javap -c does not show which method a lambda's invokedynamic names; a
# lambda is named after the method, val or constructor (`new`) that
# holds it, so the name is the link.
COMPANIONS = ("$anonfun${}$", "{}$default$", "{}$lzycompute")
# Left out of the report: compiler-generated members and lifted local
# defs (`m$1`, which belong to the method that holds them) ...
SYNTHETIC = re.compile(r"^(<init>|<clinit>|writeReplace|readResolve|\$deserializeLambda\$)$"
                       r"|\$anonfun\$|\$default\$|\$lzycompute$|\$adapted$|\$\d+$")
# ... what scalac writes into a case class's companion and into a case
# object ...
CASE_COMPANION = {"apply", "unapply", "toString", "tupled", "curried"}
CASE_OBJECT = {"canEqual", "hashCode", "toString", "productArity", "productElement",
               "productElementName", "productElementNames", "productIterator",
               "productPrefix"}
# ... the accessor of a constant `final val` (scalac inlines the constant
# at every use, so nothing calls it) ...
CONSTANT_LOAD = re.compile(r"^([ilfd]const_\w+|[bs]ipush|ldc\w*)$")
# ... and the members an object mixes in from these traits.
MIXINS = ("org.apache.spark.internal.Logging",)
# ----------------------------------------------------------------------

CLASS_RE = re.compile(r"\b(?:class|interface) ([\w.$]+)(?: extends ([^{]*?))?"
                      r"(?: implements ([^{]*?))? \{$")
MEMBER_RE = re.compile(r"^  (?:[^ ].*?)?([\w.$]+)\(.*\)(?: throws [^;]*)?;$")
DESCRIPTOR_RE = re.compile(r"^    descriptor: (\S+)$")
OP_RE = re.compile(r"^\s+\d+: (\w+)")
INVOKE_RE = re.compile(r"^\s+\d+: (invoke\w+)\s+#\d+(?:,\s+\d+)?\s+"
                       r"// (?:Method|InterfaceMethod) ([^:]+):(\S+)$")


def strip_generics(s):
    prev = None
    while prev != s:
        prev, s = s, re.sub(r"<[^<>]*>", "", s)
    return s


def class_files(root, sub=""):
    for d, _, names in os.walk(os.path.join(root, sub)):
        yield from (os.path.join(d, n) for n in names if n.endswith(".class"))


def javap(files):
    out = []
    for i in range(0, len(files), 200):
        r = subprocess.run(["javap", "-c", "-p", "-s"] + files[i:i + 200],
                           capture_output=True, text=True, check=True)
        out.append(r.stdout)
    return "\n".join(out)


class Program:
    """Classes, their supertypes and methods. A method is keyed by
    (class, name, descriptor); each maps to the methods it invokes."""

    def __init__(self, text):
        self.methods = {}   # class -> {(name, desc) -> set of (class, name, desc)}
        self.supers = {}    # class -> direct supertypes
        self.ops = {}       # (class, name, desc) -> opcodes
        self.static = set()
        self.modules = set()
        cls = meth = pending = None
        for line in text.splitlines():
            if not line.startswith(" "):
                m = CLASS_RE.search(strip_generics(line))
                if m:
                    cls, meth = m.group(1), None
                    self.methods[cls] = {}
                    sups = ",".join(g for g in m.group(2, 3) if g)
                    self.supers[cls] = [s.strip() for s in sups.split(",") if s.strip()]
                continue
            if not line.startswith("   "):
                meth, pending = None, None
                if line == "  public static final %s MODULE$;" % cls:
                    self.modules.add(cls)
                m = MEMBER_RE.match(strip_generics(line))
                if line.endswith("static {};"):
                    pending = ("<clinit>", True)
                elif m:
                    pending = ("<init>" if m.group(1) == cls else m.group(1),
                               " static " in " " + line)
                continue
            m = DESCRIPTOR_RE.match(line)
            if m and pending:
                meth = (pending[0], m.group(1))
                self.methods[cls][meth] = set()
                if pending[1]:
                    self.static.add((cls,) + meth)
                continue
            if meth is None:
                continue
            m = OP_RE.match(line)
            if m:
                self.ops.setdefault((cls,) + meth, []).append(m.group(1))
            m = INVOKE_RE.match(line)
            if m and m.group(1) in INVOKES:
                target = m.group(2).replace('"', "")
                owner, name = target.rsplit(".", 1) if "." in target else (cls, target)
                self.methods[cls][meth].add((owner.replace("/", "."), name, m.group(3)))
        self.subs = {}
        for c, sups in self.supers.items():
            for s in sups:
                self.subs.setdefault(s, []).append(c)

    def closure(self, c, edges):
        seen, todo = [], list(edges.get(c, []))
        while todo:
            s = todo.pop(0)
            if s not in seen:
                seen.append(s)
                todo += edges.get(s, [])
        return seen

    def targets(self, owner, name, desc):
        """What a call of owner.name can run: its definition, found up
        the hierarchy, and every override below owner."""
        out = []
        for c in [owner] + self.closure(owner, self.supers):
            if (name, desc) in self.methods.get(c, {}):
                out.append((c, name, desc))
                break
        return out + [(c, name, desc) for c in self.closure(owner, self.subs)
                      if (name, desc) in self.methods[c]]


def simple_names(name):
    """The names scalac derives a method's companions from: a private
    member `graft$ops$X$$m` and a lifted local def `m$1` both use `m`."""
    base = {"<init>": "new", "<clinit>": "new"}.get(name, name.split("$$")[-1])
    return {base, re.sub(r"\$\d+$", "", base)}


def in_root_class(c):
    return (any(c == r or c.startswith(r + "$") for r in ROOT_CLASSES)
            or c.startswith(ROOT_PACKAGES))


def reach(prog):
    todo = []
    for c, members in prog.methods.items():
        if in_root_class(c):
            todo += [(c,) + m for m in members]
        elif c not in prog.modules:
            todo += [(c,) + m for m in members if (c,) + m not in prog.static]
        todo += [(c,) + m for m in members if m[0] in ROOT_MEMBERS.get(c, ())]
    reached = set()
    while todo:
        key = todo.pop()
        c, name, desc = key
        if key in reached or (name, desc) not in prog.methods.get(c, {}):
            continue
        reached.add(key)
        todo.append((c, "<clinit>", "()V"))
        for callee in prog.methods[c][(name, desc)]:
            todo += prog.targets(*callee)
        prefixes = tuple(p.format(b) for b in simple_names(name) for p in COMPANIONS)
        todo += [(c,) + m for m in prog.methods[c] if m[0].startswith(prefixes)]
    return reached


def is_case(prog, c):
    """A case class or case object: scalac writes productPrefix into both."""
    return any(m[0] == "productPrefix" for m in prog.methods.get(c, {}))


def left_out(prog, c, name, desc):
    if SYNTHETIC.search(name):
        return True
    if name in CASE_COMPANION and is_case(prog, c[:-1]):
        return True
    if name in CASE_OBJECT and is_case(prog, c):
        return True
    ops = prog.ops.get((c, name, desc), [])
    if len(ops) == 2 and CONSTANT_LOAD.match(ops[0]) and ops[1].endswith("return"):
        return True
    for t in MIXINS:
        if t in prog.closure(c, prog.supers) and (
                name.startswith(t.replace(".", "$") + "$$")
                or any(o == t and n == name + "$" for o, n, _ in prog.methods[c][(name, desc)])):
            return True
    return False


def display(c):
    name = c[:-1]
    return name[:-len(".package")] if name.endswith(".package") else name


def main():
    if not os.path.isdir(ENGINE_CLASSES):
        sys.exit("unreached: no classes under %s; run `sbt compile` first" % ENGINE_CLASSES)
    files = sorted(class_files(ENGINE_CLASSES))
    if os.path.isdir(os.path.join(PERFBENCH_CLASSES, PERFBENCH_PACKAGE)):
        files += sorted(class_files(PERFBENCH_CLASSES, PERFBENCH_PACKAGE))
    else:
        print("unreached: warning: perfbench's classes are not built, so the "
              "benchmark's calls are not roots; run `python3 perfbench/run.py` once",
              file=sys.stderr)
    prog = Program(javap(files))
    reached = reach(prog)
    for c in sorted(prog.modules, key=display):
        if in_root_class(c):
            continue
        arity = {}
        for name, _ in prog.methods[c]:
            arity[name] = arity.get(name, 0) + 1
        dead = sorted({name.split("$$")[-1] + (desc if arity[name] > 1 else "")
                       for name, desc in prog.methods[c]
                       if (c, name, desc) not in reached
                       and not left_out(prog, c, name, desc)})
        if dead:
            whole = "" if (c, "<clinit>", "()V") in reached else " (object)"
            print("%s%s: %s" % (display(c), whole, ", ".join(dead)))


if __name__ == "__main__":
    main()
