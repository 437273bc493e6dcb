#!/usr/bin/env python3
"""Summarize `runMain graft.Explain` output into PLANS.md bullet lines.

Usage: sbt "runMain graft.Explain <sfDir>" > explain.txt
       python3 tools/plans.py explain.txt > plans_body.md
"""
import re
import sys


def main():
    text = open(sys.argv[1]).read()
    # formatted mode prints its own "===== Subqueries =====" section inside
    # a query's plan (DPP/scalar subqueries) — fold it into the owning
    # query's block instead of treating it as a query
    text = re.sub(r"^===== Subqueries =====$", "-- subqueries --", text, flags=re.M)
    blocks = re.split(r"^===== (\S+) =====$", text, flags=re.M)[1:]
    for name, body in zip(blocks[::2], blocks[1::2]):
        # formatted mode prints the tree, then per-node detail sections that
        # repeat every operator name — count the tree only, plus the
        # pushed-filter lines: a parquet scan's `PushedFilters: [...]` and
        # a snapshot-log batch scan's description, `... pushed=[...]`
        detail = re.search(r"^\(\d+\) ", body, flags=re.M)
        if detail:
            body = body[:detail.start()] + "\n" + "\n".join(
                l for l in body[detail.start():].splitlines()
                if l.startswith("PushedFilters") or "PushedFilters: [" in l or
                l.startswith("SnapshotBatchScan ") and " pushed=[" in l)
        feats = []
        bhj = len(re.findall(r"\bBroadcastHashJoin\b", body))
        smj = len(re.findall(r"\bSortMergeJoin\b", body))
        top = len(re.findall(r"\bTakeOrderedAndProject\b", body))
        imr = len(re.findall(r"\bInMemoryTableScan\b", body))
        agg = len(re.findall(r"\b(?:Hash|Sort|ObjectHash)Aggregate\b", body))
        exch = len(re.findall(r"\bExchange\b", body))
        if bhj:
            feats.append(f"BHJ x{bhj}")
        if smj:
            feats.append(f"SMJ x{smj}")
        if top:
            feats.append(f"TOP x{top}")
        if imr:
            feats.append(f"IMR x{imr}")
        if agg:
            feats.append(f"Agg x{agg}")
        feats.append(f"Exchange x{exch}")
        # non-trivial pushed filters only (IsNotNull-only lists are noise)
        pfs = {m.group(1).strip() for m in
               re.finditer(r"(?:PushedFilters: | pushed=)\[([^\]]+)\]", body)
               if m.group(1).strip() and
               any(not f.strip().startswith("IsNotNull")
                   for f in m.group(1).split(","))}
        if pfs:
            feats.append("PF: " + "; ".join(sorted(pfs)))
        print(f"- **{name}**: " + ", ".join(feats))


if __name__ == "__main__":
    main()
