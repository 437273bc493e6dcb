"""Correctness checks of a run's outputs, with DuckDB as the independent
engine. Each function returns a list of failure messages (empty when the
outputs are right)."""
import json
import re

import duckdb

import stats
import tables


def result_of(con, sql):
    rel = con.sql(sql)
    return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()


def spark_output(con, path):
    return result_of(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def table_views(con, data_dir):
    for t in tables.NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")


def registry(run, verify_dir, expected):
    """Every query's verification output against its stored row count and
    digest. `expected` maps query name to {"rows", "digest"}."""
    failures = []
    con = duckdb.connect()
    for name in run["queries"]:
        if name in run["verify_failed"]:
            continue  # already counted as a thrown query
        want = expected.get(name)
        if want is None:
            failures.append(f"{name}: no expected value stored")
            continue
        try:
            got = stats.digest(*spark_output(con, f"{verify_dir}/{name}"))
        except Exception as e:  # unreadable output is a wrong answer
            failures.append(f"{name}: output unreadable: {e}")
            continue
        if got != want:
            failures.append(f"{name}: got {got['rows']} rows {got['digest'][:12]}, "
                            f"expected {want['rows']} rows {want['digest'][:12]}")
    return failures


def oracle_digests(data_dir, oracles):
    """Run each oracle SQL on the tables; {name: digest or error text}."""
    con = duckdb.connect()
    table_views(con, data_dir)
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            out[name] = stats.digest(*result_of(con, sql))
        except Exception as e:
            out[name] = f"oracle failed: {e}"
    return out


def _csv_sql(sql):
    # The ETL writes each table as a directory of part files.
    return re.sub(r"read_csv_auto\('([^']+\.csv)'", r"read_csv_auto('\1/*.csv'", sql)


def recipes(run, verify_dir):
    """The ETL's star row counts and validation tallies against what the
    generator built, and ra1..ra10 against DuckDB running the registry's
    oracle SQL on the CSVs the ETL wrote."""
    failures = []
    docs = run["expected_docs"]
    star = ["users", "recipes", "ingredients", "steps", "interactions"]
    con = duckdb.connect()
    if "etl" in run["verify_failed"]:
        return failures
    with open(f"{verify_dir}/etl_counts.json") as f:
        returned = json.load(f)
    csv_dir = f"{verify_dir}/csv"
    files = {"users": "users", "recipes": "recipe", "ingredients": "ingredients",
             "steps": "steps", "interactions": "interactions"}
    for t in star:
        if returned.get(t) != docs[t]:
            failures.append(f"RecipeEtl.run returned {returned.get(t)} {t} rows, "
                            f"generator built {docs[t]}")
        n = con.sql(f"SELECT count(*) FROM read_csv('{csv_dir}/{files[t]}.csv/*.csv', "
                    f"header=true, all_varchar=true)").fetchone()[0]
        if n != docs[t]:
            failures.append(f"{files[t]}.csv holds {n} rows, generator built {docs[t]}")
    tally = dict(((t, s), n) for t, s, n in con.sql(
        f"SELECT \"Table\", Status, count(*) FROM read_csv("
        f"'{csv_dir}/validation_report.csv/*.csv', header=true, all_varchar=true) "
        f"GROUP BY ALL").fetchall())
    bad = {"users": docs["bad_users"], "recipes": docs["bad_recipes"],
           "interactions": docs["bad_interactions"], "ingredients": 0, "steps": 0}
    for t in star:
        label = t.capitalize()
        want = {"PASS": docs[t] - bad[t], "FAIL": bad[t]}
        got = {s: tally.get((label, s), 0) for s in want}
        if got != want:
            failures.append(f"validation tallies for {label}: got {got}, expected {want}")
    for name, sql in sorted(run["oracles"].items()):
        if name in run["verify_failed"]:
            continue
        try:
            want = stats.digest(*result_of(con, _csv_sql(sql)))
            got = stats.digest(*spark_output(con, f"{verify_dir}/{name}"))
        except Exception as e:
            failures.append(f"{name}: {e}")
            continue
        if got != want:
            failures.append(f"{name}: Spark and oracle disagree ({got['rows']} vs "
                            f"{want['rows']} rows)")
    if len(run["oracles"]) != 10:
        failures.append(f"expected 10 analytics oracles, found {len(run['oracles'])}")
    return failures
