#!/usr/bin/env python3
"""List the registry queries the query-floor workload runs.

A query qualifies when nothing it calls inside `SparkEntry` reaches one
of the shared caches `SparkEntry.buildCaches` builds: those queries pay
only per-query planning, codegen and scheduling, never a one-time index
or parse build. The call graph is read statically from the source, with
comments stripped, so a cache named only in a doc comment does not
count. Every `STRIDE`-th qualifying query in name order is kept, and
every `STREAM_STRIDE`-th of the streaming twins (names containing
"stream"), so the streaming layer is always in the set. The pins in
`perfbench/query_floor_pins.tsv` describe exactly this set.

Usage, from the repository root: python3 perfbench/tools/select_queries.py
Prints one query name per line, in name order.
"""
import re
import sys

SOURCE = "src/main/scala/graft/SparkEntry.scala"
STRIDE = 33
STREAM_STRIDE = 15
MEMBER = re.compile(r"^  (?:@transient )?(?:private )?(?:lazy )?(?:def|val|var) (\w+)")


def strip_comments(src):
    src = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), src, flags=re.S)
    return re.sub(r"//[^\n]*", "", src)


def members(lines):
    """(name, body text) for each top-level member of the object."""
    starts = [(i, m.group(1)) for i, l in enumerate(lines) if (m := MEMBER.match(l))]
    bounds = starts[1:] + [(len(lines), None)]
    return [(name, "\n".join(lines[i:j])) for (i, name), (j, _) in zip(starts, bounds)]


def select(path):
    lines = strip_comments(open(path, encoding="utf-8").read()).split("\n")
    bodies = {}
    for name, body in members(lines):
        bodies[name] = bodies.get(name, "") + "\n" + body
    registry = dict(re.findall(r'"(q\w+)" -> (\w+) _', bodies["queries"]))
    caches = set(re.findall(r"timed\((\w+)\(", bodies["buildCaches"]))
    names = set(bodies) - {"queries", "buildCaches"}
    calls = {n: set(re.findall(r"\b\w+\b", b)) & names - {n} for n, b in bodies.items()}
    reaches = {}

    def touches_cache(n, seen=()):
        if n in caches:
            return True
        if n not in reaches:
            reaches[n] = any(touches_cache(m, seen + (n,)) for m in calls.get(n, ())
                             if m not in seen)
        return reaches[n]

    free = sorted(q for q, fn in registry.items() if not touches_cache(fn))
    batch = [q for q in free if "stream" not in q][::STRIDE]
    stream = [q for q in free if "stream" in q][::STREAM_STRIDE]
    return sorted(batch + stream), len(registry), len(free)


if __name__ == "__main__":
    picked, total, free = select(SOURCE)
    print(f"{total} registry queries, {free} cache-free, {len(picked)} picked", file=sys.stderr)
    print("\n".join(picked))
