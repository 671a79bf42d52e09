#!/usr/bin/env python3
"""Regenerate src/main/scala/graft/QueryCosts.scala from BASELINE_CANON.json.

Verify uses these canon sf0.1 minima as COST HINTS: it orders dumps
cheapest-first so a driver timeout still certifies the maximum number of
queries. Hints only — a query absent from the canon gets a default that
sorts mid-pack.
"""
import json, pathlib

repo = pathlib.Path(__file__).resolve().parent.parent
canon = json.load(open(repo / "BASELINE_CANON.json"))["queries"]
rows = "\n".join(
    f'    "{k}" -> {v:.3f},' for k, v in sorted(canon.items()))
out = f'''package graft

/** Canon sf0.1 per-query minima (seconds), generated from
  * BASELINE_CANON.json by scripts/gen_query_costs.py — regenerate after
  * re-pinning the canon. Used by [[Verify]] for its cheapest-first dump
  * order: a driver timeout then still certifies the maximum number of
  * queries. Hints only: a query not listed gets [[QueryCosts.default]],
  * which sorts mid-pack. */
object QueryCosts {{
  /** Conservative cost for queries the canon has not measured yet. */
  val default: Double = 1.0
  def costOf(name: String): Double = sf01Min.getOrElse(name, default)
  val sf01Min: Map[String, Double] = Map(
{rows}
  )
}}
'''
(repo / "src/main/scala/graft/QueryCosts.scala").write_text(out)
print("wrote", len(canon), "entries")
