"""lake_dml's seeded operation stream and its reference replay.

Rows are a pure function of (id, salt), written the same way in SQL and in
Python, so the replay needs no Spark: after any prefix of the stream it
knows every row of the table. The harness checks each read-after-write
scan and the final table against it.
"""

TABLE = "bench.ns.t"
INITIAL_ROWS = 100_000
KINDS = ["insert", "merge", "update", "delete"]
COMPACT_UNDER = 1 << 20      # bytes: files below this are bin-packed
MAX_BLOCKS = 100             # more than any run gets through
MIN_BLOCKS = 5               # every run: a cold and four warm runs of each kind
BLOCK_OPS = 2 * len(KINDS) + 2  # commits, their scans, OPTIMIZE and its scan


def row(i, salt):
    return ((i * 7 + salt) % 97, (i * 13 + salt * 31) % 10007, f"r{(i + salt) % 50}")


def rows_sql(a, b, salt, where=""):
    return (f"SELECT id, CAST((id * 7 + {salt}) % 97 AS INT) AS k, "
            f"(id * 13 + {salt * 31}) % 10007 AS v, "
            f"concat('r', CAST((id + {salt}) % 50 AS STRING)) AS s "
            f"FROM range({a}, {b}){where}")


def row_bytes(r):
    return 8 + 4 + 8 + len(r[2])


class LakeModel:
    def __init__(self, n0, salt0):
        self.rows = {i: row(i, salt0) for i in range(n0)}
        self.user_bytes = 0  # bytes of rows submitted by the stream's commits

    def apply(self, op):
        kind, p = op["kind"], op
        if kind == "insert":
            for i in range(p["a"], p["b"]):
                self.rows[i] = row(i, p["salt"])
                self.user_bytes += row_bytes(self.rows[i])
        elif kind == "merge":
            src = [i for i in range(p["a"], p["b"]) if i % p["m"] == p["r"]]
            src += list(range(p["new_a"], p["new_b"]))
            for i in src:
                k, v, s = row(i, p["salt"])
                self.user_bytes += row_bytes((k, v, s))
                old = self.rows.get(i)
                self.rows[i] = (k, v, s) if old is None else (k, old[1] + v, old[2])
        elif kind == "update":
            for i in range(p["a"], p["b"]):
                old = self.rows.get(i)
                if old is not None and old[0] < p["x"]:
                    self.rows[i] = ((old[0] + 1) % 97, old[1] + p["c"], old[2])
                    self.user_bytes += row_bytes(self.rows[i])
        elif kind == "delete":
            for i in range(p["a"], p["b"]):
                old = self.rows.get(i)
                if old is not None and old[0] % 3 == p["r"]:
                    del self.rows[i]

    def scan(self, a, b):
        hit = [self.rows[i] for i in range(a, b) if i in self.rows]
        return [len(hit), sum(r[1] for r in hit), sum(r[0] for r in hit)]

    def checksum(self):
        rs = self.rows
        return [len(rs), sum(rs), sum(r[0] for r in rs.values()),
                sum(r[1] for r in rs.values()), sum(len(r[2]) for r in rs.values())]

    @classmethod
    def replay(cls, plan, done, on_scan=None):
        """The model after the first ``done`` operations of ``plan``;
        ``on_scan(i, expect)`` receives the expected result of every scan."""
        m = cls(plan["n0"], plan["salt0"])
        for i, op in enumerate(plan["ops"][:done]):
            if op["kind"] == "scan":
                if on_scan:
                    on_scan(i, m.scan(op["a"], op["b"]))
            else:
                m.apply(op)
        return m


def plan(rng, lake_dir):
    """Setup statements, the operation stream and the final checksum query."""
    salt0 = rng.randrange(1000)
    setup = [f"CREATE TABLE {TABLE} (id BIGINT, k INT, v BIGINT, s STRING) "
             f"USING lake LOCATION '{lake_dir}'",
             f"INSERT INTO {TABLE} {rows_sql(0, INITIAL_ROWS, salt0)}"]
    ops = []
    next_id = INITIAL_ROWS

    def scan():
        a = rng.randrange(next_id - 10000)
        b = a + rng.randrange(2000, 10000)
        ops.append({"kind": "scan", "a": a, "b": b,
                    "sql": (f"SELECT count(*), sum(v), sum(k) FROM {TABLE} "
                            f"WHERE id >= {a} AND id < {b}")})

    # blocks of one commit of each kind in seeded order, then an OPTIMIZE
    # ... COMPACT (every len(KINDS) commits); a filtered scan follows every
    # commit, so every run gets warm executions of every operation kind
    for _ in range(MAX_BLOCKS):
        for kind in rng.sample(KINDS, len(KINDS)):
            salt = rng.randrange(1000)
            if kind == "insert":
                b = next_id + rng.randrange(1000, 4000)
                op = {"kind": kind, "a": next_id, "b": b, "salt": salt,
                      "sql": f"INSERT INTO {TABLE} {rows_sql(next_id, b, salt)}"}
                next_id = b
            elif kind == "merge":
                a = rng.randrange(next_id - 5000)
                m = rng.randrange(3, 9)
                r = rng.randrange(m)
                new_b = next_id + rng.randrange(500, 2000)
                src = (f"{rows_sql(a, a + 5000, salt, f' WHERE id % {m} = {r}')} UNION ALL "
                       f"{rows_sql(next_id, new_b, salt)}")
                op = {"kind": kind, "a": a, "b": a + 5000, "m": m, "r": r,
                      "new_a": next_id, "new_b": new_b, "salt": salt,
                      "sql": (f"MERGE INTO {TABLE} t USING ({src}) s ON t.id = s.id "
                              "WHEN MATCHED THEN UPDATE SET k = s.k, v = t.v + s.v "
                              "WHEN NOT MATCHED THEN INSERT (id, k, v, s) "
                              "VALUES (s.id, s.k, s.v, s.s)")}
                next_id = new_b
            elif kind == "update":
                a = rng.randrange(next_id - 10000)
                b = a + rng.randrange(2000, 10000)
                x, c = rng.randrange(20, 60), rng.randrange(1, 100)
                op = {"kind": kind, "a": a, "b": b, "x": x, "c": c,
                      "sql": (f"UPDATE {TABLE} SET k = (k + 1) % 97, v = v + {c} "
                              f"WHERE id >= {a} AND id < {b} AND k < {x}")}
            else:
                a = rng.randrange(next_id - 5000)
                b = a + rng.randrange(1000, 5000)
                r = rng.randrange(3)
                op = {"kind": kind, "a": a, "b": b, "r": r,
                      "sql": (f"DELETE FROM {TABLE} WHERE id >= {a} AND id < {b} "
                              f"AND k % 3 = {r}")}
            ops.append(op)
            scan()
        ops.append({"kind": "optimize",
                    "sql": f"OPTIMIZE {TABLE} COMPACT FILES UNDER {COMPACT_UNDER} BYTES"})
        scan()
    return {"setup_sql": setup, "ops": ops,
            "final_sql": (f"SELECT count(*), sum(id), sum(k), sum(v), "
                          f"sum(length(s)) FROM {TABLE}"),
            "n0": INITIAL_ROWS, "salt0": salt0, "min_ops": MIN_BLOCKS * BLOCK_OPS}
