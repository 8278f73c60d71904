#!/usr/bin/env python3
"""Write the FK-web SQLite fixture and its expected counts.

    python3 tools/make_fkweb_fixture.py

writes src/test/resources/fkweb.sqlite and src/test/resources/fkweb.expected.json.
Standard library only (sqlite3, random, json); the seed is fixed, so the rows
are the same on every run.

The database is a small relational web that exercises the SQLite reader and
the relational-to-graph build:

- departments, employees, projects: INTEGER PRIMARY KEY entities with TEXT,
  VARCHAR, REAL, INTEGER, BLOB and TIMESTAMP columns;
- employees.manager_id: a self-reference;
- employees.dept_id, projects.lead_id, projects.dept_id: FKs with NULL and
  dangling values;
- assignments: a junction table (no primary key) with duplicate pairs that
  differ in their `hours` property, plus NULL and dangling keys;
- a few values whose storage class differs from the declared type ('n/a' in
  a REAL column, 2.5 in an INTEGER column, integers in a TEXT column), and
  rowid gaps left by deletes.

The expected counts come from sqlite3 queries over the written file, not
from the generator's own bookkeeping: per node table its row count, per edge
type the audit numbers (`input` rows, `clean` rows after the null-key drop
and pair dedup, `committed` rows whose endpoints both exist).
"""

import json
import os
import random
import sqlite3

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(HERE, "..", "src", "test", "resources")
DB = os.path.join(OUT_DIR, "fkweb.sqlite")
EXPECTED = os.path.join(OUT_DIR, "fkweb.expected.json")

N_DEPTS, N_EMPS, N_PROJECTS, N_ASSIGN = 12, 160, 40, 260


def stamp(r):
    return "20%02d-%02d-%02d %02d:%02d:%02d" % (
        r.randint(10, 23), r.randint(1, 12), r.randint(1, 28),
        r.randint(0, 23), r.randint(0, 59), r.randint(0, 59))


def write(con, r):
    con.executescript("""
        CREATE TABLE departments (
            dept_id INTEGER PRIMARY KEY,
            name TEXT,
            budget REAL,
            founded TIMESTAMP,
            code VARCHAR(8));
        CREATE TABLE employees (
            emp_id INTEGER PRIMARY KEY,
            name TEXT,
            salary REAL,
            hired_at TIMESTAMP,
            level INTEGER,
            badge BLOB,
            dept_id INTEGER,
            manager_id INTEGER,
            FOREIGN KEY (dept_id) REFERENCES departments(dept_id),
            FOREIGN KEY (manager_id) REFERENCES employees(emp_id));
        CREATE TABLE projects (
            project_id INTEGER PRIMARY KEY,
            title TEXT,
            started TIMESTAMP,
            lead_id INTEGER REFERENCES employees(emp_id),
            dept_id INTEGER,
            FOREIGN KEY (dept_id) REFERENCES departments(dept_id));
        CREATE TABLE assignments (
            emp_id INTEGER,
            project_id INTEGER,
            hours REAL,
            FOREIGN KEY (emp_id) REFERENCES employees(emp_id),
            FOREIGN KEY (project_id) REFERENCES projects(project_id));
    """)
    for d in range(1, N_DEPTS + 1):
        con.execute("INSERT INTO departments VALUES (?,?,?,?,?)",
                    (d, "dept-%d" % d, round(r.uniform(1e4, 1e6), 2),
                     stamp(r) if d % 5 else "not a date", "D%03d" % d))
    dept_ids = list(range(1, N_DEPTS + 1))
    for e in range(1, N_EMPS + 1):
        u = r.random()
        dept = None if u < 0.05 else (900 + e if u < 0.10 else r.choice(dept_ids))
        v = r.random()
        # managers are earlier employees; 1 is the root
        mgr = None if e == 1 or v < 0.05 else (5000 + e if v < 0.09 else r.randint(1, e - 1))
        salary = "n/a" if e % 37 == 0 else round(r.uniform(3e4, 2e5), 2)
        level = 2.5 if e % 41 == 0 else r.randint(1, 9)
        badge = None if e % 3 == 0 else bytes(r.randrange(256) for _ in range(e % 17))
        con.execute("INSERT INTO employees VALUES (?,?,?,?,?,?,?,?)",
                    (e, "emp-%d" % e, salary, stamp(r), level, badge, dept, mgr))
    for p in range(1, N_PROJECTS + 1):
        u = r.random()
        lead = None if u < 0.08 else (7000 + p if u < 0.15 else r.randint(1, N_EMPS))
        dept = p if p % 13 == 0 else r.choice(dept_ids)  # 13, 26, 39 dangle
        title = p * 11 if p % 10 == 0 else "project-%d" % p  # integers in TEXT
        con.execute("INSERT INTO projects VALUES (?,?,?,?,?)",
                    (p, title, stamp(r), lead, dept))
    pairs = []
    for i in range(N_ASSIGN):
        if pairs and r.random() < 0.12:
            emp, proj = r.choice(pairs)  # duplicate pair, different hours
        else:
            emp, proj = r.randint(1, N_EMPS), r.randint(1, N_PROJECTS)
            u = r.random()
            if u < 0.04:
                emp = None
            elif u < 0.07:
                proj = None
            elif u < 0.11:
                proj = 800 + i
            elif u < 0.13:
                emp = 9000 + i
        pairs.append((emp, proj))
        con.execute("INSERT INTO assignments VALUES (?,?,?)",
                    (emp, proj, round(r.uniform(1, 40), 1)))
    # rowid gaps
    con.execute("DELETE FROM employees WHERE emp_id IN (17, 18, 99)")
    con.execute("DELETE FROM assignments WHERE rowid % 50 = 7")


def one(con, sql):
    return con.execute(sql).fetchone()[0]


def fk_edge(con, table, key, fk, target, target_key):
    return {
        "input": one(con, f"SELECT COUNT(*) FROM {table}"),
        "clean": one(con, f"SELECT COUNT(*) FROM {table} "
                          f"WHERE {key} IS NOT NULL AND {fk} IS NOT NULL"),
        "committed": one(con, f"SELECT COUNT(*) FROM {table} WHERE {key} IS NOT NULL "
                              f"AND {fk} IN (SELECT {target_key} FROM {target})"),
    }


def expected(con):
    pairs = ("SELECT DISTINCT emp_id, project_id FROM assignments "
             "WHERE emp_id IS NOT NULL AND project_id IS NOT NULL")
    return {
        "tables": {t: one(con, f"SELECT COUNT(*) FROM {t}")
                   for t in ("departments", "employees", "projects", "assignments")},
        "nodes": {
            "Department": one(con, "SELECT COUNT(*) FROM departments"),
            "Employee": one(con, "SELECT COUNT(*) FROM employees"),
            "Project": one(con, "SELECT COUNT(*) FROM projects"),
        },
        "edges": {
            "ASSIGNMENTS": {
                "input": one(con, "SELECT COUNT(*) FROM assignments"),
                "clean": one(con, f"SELECT COUNT(*) FROM ({pairs})"),
                "committed": one(con, f"SELECT COUNT(*) FROM ({pairs}) "
                                      "WHERE emp_id IN (SELECT emp_id FROM employees) "
                                      "AND project_id IN (SELECT project_id FROM projects)"),
            },
            "EMPLOYEES_HAS_DEPT": fk_edge(con, "employees", "emp_id", "dept_id",
                                          "departments", "dept_id"),
            "EMPLOYEES_HAS_MANAGER": fk_edge(con, "employees", "emp_id", "manager_id",
                                             "employees", "emp_id"),
            "PROJECTS_HAS_DEPT": fk_edge(con, "projects", "project_id", "dept_id",
                                         "departments", "dept_id"),
            "PROJECTS_HAS_LEAD": fk_edge(con, "projects", "project_id", "lead_id",
                                         "employees", "emp_id"),
        },
    }


def main():
    if os.path.exists(DB):
        os.remove(DB)
    con = sqlite3.connect(DB)
    write(con, random.Random(20261020))
    con.commit()
    exp = expected(con)
    con.close()
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(exp, sort_keys=True))


if __name__ == "__main__":
    main()
