#!/usr/bin/env python3
"""Method-level reach report over the logs tools/class_audit.sh collects.

Each audited JVM ran with -XX:+LogTouchedMethods -XX:+PrintTouchedMethodsAtExit
and wrote the methods it touched, one `pkg/Cls.name:(desc)ret` per line, into
its own vm_pid<pid>.log. This script reads the compiled main classes to know
which methods exist, drops compiler-generated noise, and prints:

  legs    CLASSES AUDIT_DIR LEG...   touched count per leg, then the methods
                                     only the last leg touches and the methods
                                     no leg touches
  entries CLASSES AUDIT_DIR WHOLE    per-entry footprints (AUDIT_DIR/entries/
                                     <entry>/) against the WHOLE leg's set, and
                                     every pair (A, B) whose footprint, less the
                                     methods every entry touches, is A within B,
                                     then the entries whose footprints outside
                                     graft/queries are equal

CLASSES is the main classes directory (target/scala-2.13/classes).

A touched method was resolved by the JVM: the interpreter lists only what it
ran, but a JIT-compiled caller also lists callees the compiler resolved and
never ran. So an untouched method never ran; a touched one may not have.
"""
import glob
import html
import os
import struct
import sys

ACC_STATIC, ACC_BRIDGE, ACC_NATIVE, ACC_ABSTRACT, ACC_SYNTHETIC = 0x8, 0x40, 0x100, 0x400, 0x1000
ROOTS = ("graft/", "org/apache/spark/sql/graft/")
# members scalac writes for every case class / case object and its companion
CASE_MEMBERS = {"copy", "productArity", "productElement", "productPrefix", "productIterator",
                "productElementName", "productElementNames", "canEqual", "equals", "hashCode",
                "toString", "writeReplace", "readResolve"}
COMPANION_MEMBERS = {"apply", "unapply", "toString", "curried", "tupled", "writeReplace",
                     "readResolve", "<init>", "<clinit>"}


def parse_class(path):
    """(class name, super, interfaces, [(flags, name, desc, code bytes)])."""
    with open(path, "rb") as f:
        data = f.read()
    pos, n = 8, struct.unpack_from(">H", data, 8)[0]
    pos += 2
    cp = [None] * n
    i = 1
    while i < n:
        tag = data[pos]
        if tag == 1:
            ln = struct.unpack_from(">H", data, pos + 1)[0]
            cp[i] = data[pos + 3:pos + 3 + ln].decode("utf-8", "replace")
            pos += 3 + ln
        elif tag in (3, 4):
            pos += 5
        elif tag in (5, 6):
            pos += 9
            i += 1
        elif tag in (7, 8, 16, 19, 20):
            cp[i] = (tag, struct.unpack_from(">H", data, pos + 1)[0])
            pos += 3
        elif tag == 15:
            pos += 4
        else:  # 9-12 member refs, 17-18 dynamic: two u2 indices
            cp[i] = (tag,) + struct.unpack_from(">HH", data, pos + 1)
            pos += 5
        i += 1

    def cls(idx):
        return cp[cp[idx][1]] if idx else None

    _, this, sup, nif = struct.unpack_from(">HHHH", data, pos)
    pos += 8
    ifaces = [cls(struct.unpack_from(">H", data, pos + 2 * k)[0]) for k in range(nif)]
    pos += 2 * nif

    def members(pos, keep_code):
        out = []
        count = struct.unpack_from(">H", data, pos)[0]
        pos += 2
        for _ in range(count):
            flags, name, desc, nattr = struct.unpack_from(">HHHH", data, pos)
            pos += 8
            code = b""
            for _ in range(nattr):
                aname, alen = struct.unpack_from(">HI", data, pos)
                if keep_code and cp[aname] == "Code":
                    clen = struct.unpack_from(">I", data, pos + 10)[0]
                    code = data[pos + 14:pos + 14 + clen]
                pos += 6 + alen
            out.append((flags, cp[name], cp[desc], code))
        return out, pos

    _, pos = members(pos, False)
    methods, _ = members(pos, True)

    def static_target(code):
        """Names the code invokes statically on an interface (trait `m$` helpers)."""
        names = set()
        for k in range(len(code) - 2):
            idx = struct.unpack_from(">H", code, k + 1)[0]
            if code[k] == 0xB8 and idx < n:
                ref = cp[idx]
                if isinstance(ref, tuple) and len(ref) == 3 and ref[0] == 11:
                    nat = cp[ref[2]]
                    if isinstance(nat, tuple):
                        names.add(cp[nat[1]])
        return names

    return cls(this), cls(sup), ifaces, [(f, m, d, static_target(c) if len(c) < 64 else set())
                                         for f, m, d, c in methods]


def inventory(classes_dir):
    """Every main-tree method worth reporting, as `pkg/Cls.name:desc`."""
    parsed = {}
    for root in ROOTS:
        for path in glob.glob(os.path.join(classes_dir, root, "**", "*.class"), recursive=True):
            name, sup, ifaces, methods = parse_class(path)
            parsed[name] = (sup, ifaces, methods)
    keep = set()
    def case_class(name):
        return name in parsed and any(m == "productPrefix" for _, m, _, _ in parsed[name][2])

    for name, (sup, ifaces, methods) in parsed.items():
        is_case = case_class(name)
        companion_of_case = name.endswith("$") and case_class(name[:-1])
        has_module = name + "$" in parsed
        for flags, m, d, static_calls in methods:
            if flags & (ACC_BRIDGE | ACC_ABSTRACT | ACC_NATIVE):
                continue
            if flags & ACC_SYNTHETIC and "$anonfun$" not in m:
                continue
            if m == "$deserializeLambda$" or m.startswith("super$") or ("$mc" in m and m.endswith("$sp")):
                continue
            if m.split("$anonfun$")[-1].startswith("isDefinedAt") \
                    and sup == "scala/runtime/AbstractPartialFunction":
                continue  # `{ case ... }` literal: Spark's transforms call applyOrElse only
            if is_case and (m in CASE_MEMBERS or m.startswith("copy$default$")):
                continue
            if companion_of_case and (m in COMPANION_MEMBERS or m.startswith("apply$default$")
                                      or m.startswith("$lessinit$greater$default$")):
                continue
            if flags & ACC_STATIC and has_module and "$anonfun$" not in m:
                continue  # static forwarder to the companion object
            if m + "$" in static_calls:
                continue  # trait forwarder: body calls the trait's static `m$`
            if flags & ACC_STATIC and m.endswith("$") and m != "$init$" and sup == "java/lang/Object" \
                    and any(mm == m[:-1] for _, mm, _, _ in methods):
                continue  # the trait's static `m$` helper behind those forwarders
            keep.add(f"{name}.{m}:{d}")
    return keep


def touched(log_dir, known):
    out = set()
    for path in glob.glob(os.path.join(log_dir, "vm_*.log")):
        with open(path, errors="replace") as f:
            for line in f:
                line = html.unescape(line.strip())  # the log is XML: `<init>` reads `&lt;init&gt;`
                if line in known:
                    out.add(line)
    return out


def show(title, methods):
    print(f"# {title}: {len(methods)}")
    for m in sorted(methods):
        print(m)


def legs(classes_dir, audit_dir, names):
    known = inventory(classes_dir)
    sets = {n: touched(os.path.join(audit_dir, n), known) for n in names}
    print(f"[audit] main methods: {len(known)}; touched: " +
          ", ".join(f"{n} {len(s)}" for n, s in sets.items()), file=sys.stderr)
    others = set().union(*(sets[n] for n in names[:-1]))
    for n, s in sets.items():
        with open(os.path.join(audit_dir, f"{n}.methods"), "w") as f:
            f.writelines(m + "\n" for m in sorted(s))
    show(f"methods only {names[-1]} touches", sets[names[-1]] - others)
    show("methods nothing touches", known - others - sets[names[-1]])


def entries(classes_dir, audit_dir, whole):
    known = inventory(classes_dir)
    per = {os.path.basename(d): touched(d, known)
           for d in sorted(glob.glob(os.path.join(audit_dir, "entries", "*"))) if os.path.isdir(d)}
    whole_set = touched(os.path.join(audit_dir, whole), known)
    union = set().union(*per.values())
    print(f"[audit] {len(per)} entry footprints; union {len(union)}, {whole} {len(whole_set)}",
          file=sys.stderr)
    show(f"methods the per-entry runs touch and the {whole} run does not", union - whole_set)
    show(f"methods the {whole} run touches and no per-entry run does", whole_set - union)
    harness = set.intersection(*per.values())
    fp = {e: s - harness for e, s in per.items()}
    pairs = [(a, b) for a in fp for b in fp if a != b and fp[a] <= fp[b]]
    print(f"# entry pairs (A, B) with footprint(A) within footprint(B), less the "
          f"{len(harness)} methods every entry touches: {len(pairs)}")
    for a, b in pairs:
        print(f"{a} {b} {len(fp[a])} {len(fp[b])}")
    # Each entry's own function and its `defs` adapter are unique to it, so
    # whole footprints nest only where one entry calls another's function.
    # Outside graft/queries the footprint is the library code an entry
    # exercises (loaders, operators, rules, kernels, codecs): entries with
    # the same non-empty library footprint are the likeliest duplicates.
    groups = {}
    for e, s in fp.items():
        lib = frozenset(m for m in s if not m.startswith("graft/queries/"))
        if lib:
            groups.setdefault(lib, []).append(e)
    same = sorted((len(lib), sorted(es)) for lib, es in groups.items() if len(es) > 1)
    print(f"# entry groups with the same non-empty footprint outside graft/queries: {len(same)}")
    for n, es in same:
        print(f"{n} {' '.join(es)}")


if __name__ == "__main__":
    cmd, classes, audit = sys.argv[1:4]
    if cmd == "legs":
        legs(classes, audit, sys.argv[4:])
    elif cmd == "entries":
        entries(classes, audit, sys.argv[4])
    else:
        sys.exit(f"unknown command {cmd}")
