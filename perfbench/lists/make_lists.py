#!/usr/bin/env python3
"""Derive the committed board lists from surveys of the parent commit, then
pin their expected result digests.

    # 1. survey: every registry query on sf0.1, and the sixteen heavy rows on
    #    sf0.01 (one cold and two warm executions each, 4 cores)
    java ... perfbench.Main --workload board_all --seconds 0 --record light.json
    (list the sixteen heavy rows in board_heavy.tsv)
    java ... perfbench.Main --workload board_heavy --seconds 0 --record heavy.json
    python3 perfbench/lists/make_lists.py select light.json heavy.json

    # 2. run each list a few times with --record, then pin the digests
    python3 perfbench/lists/make_lists.py pin board_light rec1.json rec2.json ...

Selection rules (the README explains why):
- board_light: registry rows whose warm time on sf0.1 is below the registry
  median. The list keeps the cheapest row of every graft.ops module those
  rows touch (greedy cover by warm time).
- board_heavy: the heavy rows named by the roadmap, on sf0.01. The list takes
  rows in greedy-cover order (most uncovered modules per second of warm time)
  while the warm pass stays within HEAVY_PASS_S; the modules left out are
  printed.
A query "touches" a module when its lambda, or an API entry it calls (a
graft.api implicit, a graft.functions builder, a SQL function or a gateway
verb), names that module.
"""
import json
import re
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
SRC = BENCH.parent / "src" / "main" / "scala" / "graft"
HEAVY_PASS_S = 8.5
TABLES = {p.stem for p in (BENCH / "data" / "sf0.1").glob("*.parquet")}
HEAVY = ["q63", "q55", "q52", "q121", "q158", "q267", "q29", "q58", "q109", "q154",
         "q37", "q38", "q42", "q87", "q94", "q143"]
DIGITS = [12, 10, 8, 6, 4]
HEADER = ("# query\ttables\tdigits\tdigest\tmodules\tparent_warm_s\n"
          "# written by make_lists.py; digits/digest pin the parent's full result\n")


def ops_modules():
    return sorted(p.stem for p in (SRC / "ops").glob("*.scala"))


def refs(text, modules):
    return {m for m in modules if re.search(rf"\b{m}\.", text)}


def blocks(text, start_re):
    """Split `text` at every match of `start_re`; yields (name, body)."""
    ms = list(re.finditer(start_re, text, re.M))
    for i, m in enumerate(ms):
        end = ms[i + 1].start() if i + 1 < len(ms) else len(text)
        yield m.group(1), text[m.start():end]


def api_entries(modules):
    """API entry name -> modules its body names (one hop through functions)."""
    funcs = {n: refs(b, modules) for n, b in
             blocks((SRC / "functions.scala").read_text(), r"^  def (\w+)")}
    def with_funcs(body):
        out = refs(body, modules)
        for f in re.findall(r"functions\.(\w+)", body):
            out |= funcs.get(f, set())
        return out
    implicits = {n: with_funcs(b) for n, b in
                 blocks((SRC / "api" / "RichDataFrame.scala").read_text(), r"^    def (\w+)")}
    sql_fns = {}
    for n, b in blocks((SRC / "GraftSql.scala").read_text(), r'^\s+fn\("(\w+)"\)'):
        sql_fns[n] = with_funcs(b)
    verbs = {}
    gw = (SRC / "GraftGateway.scala").read_text()
    for names, body in blocks(gw, r'^      case ((?:"\w+"\s*\|?\s*)+)=>'):
        for n in re.findall(r'"(\w+)"', names):
            verbs[n] = with_funcs(body)
    return funcs, implicits, sql_fns, verbs


def query_bodies():
    text = (SRC / "SparkEntry.scala").read_text()
    return dict(blocks(text, r'^    "(q\d+_\w+)" -> \(\(s, d\) =>'))


def tag_queries():
    modules = ops_modules()
    funcs, implicits, sql_fns, verbs = api_entries(modules)
    tags = {}
    for q, body in query_bodies().items():
        code = "\n".join(l for l in body.splitlines() if not l.strip().startswith("//"))
        t = refs(code, modules)
        for f in re.findall(r"functions\.(\w+)\(", code):
            t |= funcs.get(f, set())
        for f in re.findall(r"\.(\w+)\(", code):
            t |= implicits.get(f, set())
        for s in re.findall(r'"((?:[^"\\]|\\.)*)"', code):
            for f in re.findall(r"\b(\w+)\s*\(", s):
                t |= sql_fns.get(f.lower(), set()) | verbs.get(f.lower(), set())
        tags[q] = sorted(t)
    return tags


def cover(rows, tags, warm):
    """Cheapest row per module, greedily: repeatedly take the row with the
    most still-uncovered modules per second of warm time."""
    need = set().union(*(set(tags[q]) for q in rows))
    picked = []
    while need:
        best = max(rows, key=lambda q: (len(need & set(tags[q])) / warm[q], -warm[q]))
        if not need & set(tags[best]):
            break
        picked.append(best)
        need -= set(tags[best])
    return picked


def query_tables(survey, bodies, q):
    """Tables seen read in the survey, plus those the lambda names."""
    seen = set(survey["tables"].get(q, [])) | set(re.findall(r't\(s, d, "(\w+)"\)', bodies[q]))
    return sorted(seen & TABLES)


def write(name, rows, survey, tags, bodies):
    warm = survey["warm_s"]
    with open(BENCH / "lists" / f"{name}.tsv", "w") as f:
        f.write(HEADER)
        for q in sorted(rows):
            tables = ",".join(query_tables(survey, bodies, q))
            f.write(f"{q}\t{tables}\t0\t-\t{','.join(tags[q]) or '-'}\t{warm[q]:.3f}\n")
    print(f"{name}: {len(rows)} rows, warm pass {sum(warm[q] for q in rows):.2f} s, "
          f"modules {len(set().union(*(set(tags[q]) for q in rows)))}")


def usable(survey):
    """Rows that ran without error and gave one digest at 4 digits."""
    return [q for q in survey["warm_s"] if q not in survey["errors"]
            and len(survey["digests"].get(q, {}).get("4", [])) == 1]


def select(light_path, heavy_path):
    tags, bodies = tag_queries(), query_bodies()
    survey = json.loads(Path(light_path).read_text())
    warm = survey["warm_s"]
    med = statistics.median(warm.values())
    light = [q for q in usable(survey) if warm[q] < med]
    write("board_light", cover(light, tags, warm), survey, tags, bodies)
    print(f"registry median warm {med:.3f} s over {len(warm)} rows; "
          f"{len(light)} light candidates")

    hs = json.loads(Path(heavy_path).read_text())
    heavy = [q for q in usable(hs) if q.split("_")[0] in HEAVY]
    picked, total = [], 0.0
    for q in cover(heavy, tags, hs["warm_s"]):
        if total + hs["warm_s"][q] <= HEAVY_PASS_S:
            picked.append(q)
            total += hs["warm_s"][q]
    write("board_heavy", picked, hs, tags, bodies)
    left = set().union(*(set(tags[q]) for q in heavy)) - set().union(*(set(tags[q]) for q in picked))
    print(f"heavy modules left out: {sorted(left)}")


def pin(name, record_paths):
    """Fill digits/digest: the finest precision at which every recorded
    execution agrees, made one step coarser as a margin."""
    recs = [json.loads(Path(p).read_text()) for p in record_paths]
    path = BENCH / "lists" / f"{name}.tsv"
    out = []
    for line in path.read_text().splitlines(keepends=True):
        if line.startswith("#"):
            out.append(line)
            continue
        f = line.rstrip("\n").split("\t")
        q = f[0]
        seen = {d: set() for d in DIGITS}
        for r in recs:
            if q in r["errors"] or q not in r["digests"]:
                sys.exit(f"{q}: failed in {r.get('errors', {}).get(q)}")
            for d in DIGITS:
                seen[d] |= set(r["digests"][q][str(d)])
        ok = [d for d in DIGITS if len(seen[d]) == 1]
        if not ok:
            sys.exit(f"{q}: no precision gives one digest: {seen}")
        i = DIGITS.index(ok[0])
        d = DIGITS[min(i + 1, len(DIGITS) - 1)]
        f[2], f[3] = str(d), next(iter(seen[d]))
        out.append("\t".join(f) + "\n")
    path.write_text("".join(out))


if __name__ == "__main__":
    if sys.argv[1:2] == ["select"]:
        select(sys.argv[2], sys.argv[3])
    elif sys.argv[1:2] == ["pin"]:
        pin(sys.argv[2], sys.argv[3:])
    else:
        sys.exit(__doc__)
