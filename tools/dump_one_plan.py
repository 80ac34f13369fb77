#!/usr/bin/env python3
"""Dump the masked formatted physical plan of queries() entries.

Usage: python tools/dump_one_plan.py <out_dir> <suffix> <query> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query.

Usage: python tools/dump_one_plan.py
Writes the checkout's PLANS.md: the masked plan of every queries() entry.

The dump is masked so that two dumps of one tree are byte-identical and a
``diff -r`` between two trees shows only real plan changes: expression ids
(``#N``), ``plan_id``s, RDD ids and the per-process scratch dir of the
stores are replaced by placeholders, lambda-variable, codegen-stage and adaptive
query-stage ids are renumbered in order of appearance, and the projections of a distinct-aggregate
``Expand`` (whose order varies between runs) are sorted, with their ``gid``
literals and every ``gid = k`` filter renumbered to match.

A cached relation that the query body's own action (a census ``count`` or
``collect``) already filled prints its AQE ``Final Plan`` with runtime
``Statistics(…)`` beside its ``Initial Plan``. The dump keeps the initial
plan only and numbers the operators as Spark numbers a plan taken before
any action, so an eager action shows no plan change of its own.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from entity_extractor_by_pointer_spark.session import get_spark, scratch_dir  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")

_EXPAND_ARGS = re.compile(r"^\(\d+\) Expand.*?\nInput \[\d+\]: .*?\nArguments: (.*)$", re.M)
_IDS = re.compile(r"#\d+")


def _split_top(s: str) -> list[str]:
    """The comma-separated items of ``s`` at bracket/paren depth 0."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    return items + [s[start:].strip()]


def _canonical_expands(plan: str) -> str:
    """Put each ``gid`` Expand in a canonical form: its output columns in
    name order, its projections sorted by their id-masked text, and the gid
    literals (and the ``gid = k`` filters) renumbered to the sorted
    positions. Downstream, only the lines that carry the ``gid`` column
    (the Expand's output and the aggregates and exchange above it, up to
    the aggregate that drops it) have their runs of bare output columns put
    in the same order; column order elsewhere is compared as dumped."""
    for m in list(_EXPAND_ARGS.finditer(plan)):
        projections, outputs = _split_top(m.group(1))
        outs = _split_top(outputs[1:-1])
        gid = outs[-1]
        if not gid.startswith("gid#"):
            continue
        cols = sorted(range(len(outs)), key=lambda i: _IDS.sub("#N", outs[i]))
        rows = [_split_top(p[1:-1]) for p in _split_top(projections[1:-1])]
        rows.sort(key=lambda r: [_IDS.sub("#N", r[i]) for i in cols if i != len(outs) - 1])
        renumber = {r[-1]: str(i) for i, r in enumerate(rows)}
        rows = [[*r[:-1], str(i)] for i, r in enumerate(rows)]
        args = ", ".join("[" + ", ".join(r[i] for i in cols) + "]" for r in rows)
        plan = plan.replace(m.group(1), f"[{args}], [{', '.join(outs[i] for i in cols)}]")
        plan = re.sub(rf"\b{re.escape(gid)} = (\d+)\b", lambda g: f"{gid} = {renumber[g.group(1)]}", plan)
        rank = {outs[i]: k for k, i in enumerate(cols)}
        keys = "|".join(map(re.escape, rank))
        run = re.compile(rf"(?<=[\[( ])(?:{keys})(?:, (?:{keys}))+(?=[,\])])")
        carries_gid = re.compile(rf"{re.escape(gid)}\b")
        plan = "\n".join(
            run.sub(lambda r: ", ".join(sorted(r.group().split(", "), key=rank.get)), line)
            if carries_gid.search(line) else line
            for line in plan.split("\n"))
    return plan


_FINAL, _INITIAL = "+- == Final Plan ==", "+- == Initial Plan =="
_OP_ID = re.compile(r" \((\d+)\)")


def _col(line: str) -> int:
    """The column where a tree line's operator name starts."""
    return len(line) - len(line.lstrip(" :+-"))


def _drop_final_plan(tree: list[str]) -> list[str]:
    """The tree lines with the first ``Final Plan`` section removed and its
    ``Initial Plan`` printed as the adaptive plan's only child, as Spark
    prints an adaptive plan that has not run (with the ``:`` guides of the
    adaptive plan's open ancestors, which Spark leaves out under the two
    headers)."""
    i = next(i for i, line in enumerate(tree) if _FINAL in line)
    col = tree[i].index(_FINAL)
    j = next(j for j in range(i + 1, len(tree)) if tree[j].find(_INITIAL) == col)
    # the adaptive plan's guides, its own marker turned into its guide
    guides = re.sub(r"[+:]- $", lambda m: m.group()[0].replace("+", " ") + "  ", tree[i - 1][:col])
    k = j + 2
    while k < len(tree) and _col(tree[k]) > col:
        k += 1
    initial = [guides + "+- " + tree[j + 1][col + 3 :]]
    initial += [guides + line[col:] for line in tree[j + 2 : k]]
    return tree[:i] + initial + tree[k:]


def _spark_order(tree: list[str]) -> dict[str, str]:
    """Old operator id -> the id Spark's formatted explain gives it: each
    node after its children's subtrees and before its inner children's (a
    cached relation's plan, indented two levels instead of one)."""
    kids: dict[int, list[tuple[bool, int]]] = {}
    stack: list[tuple[int, int]] = []  # (column, line index)
    for n, line in enumerate(tree):
        col = _col(line)
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            kids.setdefault(stack[-1][1], []).append((col - stack[-1][0] == 6, n))
        stack.append((col, n))
    ids: dict[str, str] = {}

    def visit(n: int) -> None:
        for inner, c in kids.get(n, []):
            if not inner:
                visit(c)
        ids.setdefault(_OP_ID.search(tree[n]).group(1), str(len(ids) + 1))
        for inner, c in kids.get(n, []):
            if inner:
                visit(c)

    visit(0)
    return ids


def _initial_plans(plan: str) -> str:
    """``plan`` with every AQE ``Final Plan`` section (the query stages and
    their runtime ``Statistics``) and the details of the operators only it
    held removed, and the remaining operators renumbered in Spark's order."""
    if _FINAL not in plan:
        return plan
    title, rest = plan.split("\n", 1)
    tree_text, details = rest.split("\n\n\n", 1)
    details, sub_sep, subqueries = details.partition("\n\n===== Subqueries =====")
    tree = tree_text.split("\n")
    while any(_FINAL in line for line in tree):
        tree = _drop_final_plan(tree)
    ids = _spark_order(tree)
    tree = [_OP_ID.sub(lambda m: f" ({ids[m.group(1)]})", line, 1) for line in tree]
    blocks = {}
    for block in details.split("\n\n"):
        old = re.match(r"\((\d+)\) ", block).group(1)
        if old in ids:
            head, nl, body = block.partition("\n")
            # an operator the final plan shares keeps the codegen id it ran with
            head = f"({ids[old]}) " + re.sub(r" \[codegen id : \d+\]$", "", head[len(old) + 3 :])
            block = (head + nl + body).replace("isFinalPlan=true", "isFinalPlan=false")
            blocks[int(ids[old])] = block
    subqueries = re.sub(r"(?<=Hosting operator id = )(\d+)", lambda m: ids[m.group(1)], subqueries)
    details = "\n\n".join(blocks[k] for k in sorted(blocks))
    return "\n".join([title, *tree]) + "\n\n\n" + details + sub_sep + subqueries


def _first_seen(plan: str, pattern: str) -> str:
    """Renumber the ids ``pattern``'s group 1 captures in their order of
    first appearance."""
    seen: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        new = seen.setdefault(m.group(1), str(len(seen)))
        return m.string[m.start() : m.start(1)] + new + m.string[m.end(1) : m.end()]

    return re.sub(pattern, sub, plan)


def mask_plan(plan: str) -> str:
    plan = _canonical_expands(_initial_plans(plan))
    plan = _IDS.sub("#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    # lambda variables are named from a session-wide counter; codegen and
    # adaptive query-stage ids follow the order concurrent stages happen to
    # be planned in
    plan = _first_seen(plan, r"lambda [A-Za-z]\w*?_(\d+)\b")
    plan = _first_seen(plan, r"codegen id : (\d+)")
    plan = _first_seen(plan, r"QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: (\d+)")
    return plan.replace(scratch_dir(), "SCRATCH")


def masked_plans(names: list[str]):
    """(name, masked formatted plan) of each named queries() entry."""
    # both fixed: the task slots and the shuffle partition count are printed
    # in the plans, so the dump must not read them from the caller's shell
    spark = get_spark(master="local[8]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        yield name, mask_plan(buf.getvalue().strip())


def write_plans_md() -> None:
    out = [
        "# PLANS — masked formatted physical plans (generated by tools/dump_one_plan.py)",
        "",
        f"Source: `{SF_DIR}`. Things to look for: `PushedFilters` and pruned",
        "`ReadSchema` on every scan, `BroadcastHashJoin` on dimension joins,",
        "`WholeStageCodegen` spans around relational operators, and the",
        "absence of `Exchange` in the narrow (mapInPandas) stages. Expression,",
        "plan and RDD ids and the scratch dir are masked as in a plan diff.",
        "",
    ]
    names = list(entry_mod.queries())
    out += [f"## {name}\n\n```\n{plan}\n```\n" for name, plan in masked_plans(names)]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(names)} plans")


def main() -> None:
    if len(sys.argv) == 1:
        write_plans_md()
        return
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in masked_plans(names):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
