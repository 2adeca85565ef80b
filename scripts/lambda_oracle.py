#!/usr/bin/env python3
"""Generate the `application` lambda oracle corpus.

    python3 scripts/lambda_oracle.py [--out PATH]

Draws CASES lambdas from the grammar `graft.functions.LambdaSyntax` parses
(a typed random walk with the fixed SEED, so the corpus is reproducible),
evaluates each one with Python `eval` over a fixed set of rows under only
the builtins LambdaSyntax accepts, and writes the rows, the lambdas and
Python's per-row outcome as JSON (default:
src/test/resources/lambda_oracle.json). `LambdaOracleSpec` runs the
corpus through `Ops.application` and compares.

A per-row outcome is {"v": value, "str": str(value)} when Python returns,
or {"err": exception class, "none": true when the message names a None
operand} when it raises.
"""
import argparse
import builtins
import json
import os
import random
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_OUT = os.path.join(ROOT, "src", "test", "resources", "lambda_oracle.json")

SCHEMA = [("s", "string"), ("t", "string"), ("i", "int"), ("n", "long"),
          ("d", "double"), ("b", "boolean")]
NAN, INF = float("nan"), float("inf")
SEED, CASES = 20261019, 600
ROWS = [
    ["Alpha Beta", "a", 3, 10, 2.5, True],
    ["", "", 0, 0, 0.0, False],
    [None, "x y", None, -7, None, None],
    ["héllo wörld", "ö", -2, None, NAN, True],
    ["  padded\t", None, 7, 3, -0.0, False],
    ["日本語 テキスト", "語", 1, 1, 1e16, True],
    ["$1,050.00", "$", -1, -3, -1.5, False],
    ["42", "4", 42, 100, INF, True],
    ["a-b_c d", "-", 5, 2, 1e-05, None],
    ["🙂 ok", "🙂", 2, -1, 0.1, False],
    ["x", "xx", -5, 7, -INF, True],
]
BUILTINS = {f: getattr(builtins, f)
            for f in ("str", "int", "float", "bool", "len", "abs", "round", "min", "max")}

S, T, I, N, D, B = (f"r['{c}']" for c, _ in SCHEMA)
STR_LITS = ["''", "'abc'", "'x'", "'ö'", "' - '", "'日本'", "'$'", "'42'", "'a'", "' '"]
SEPS = ["' '", "'-'", "','", "'a'", "''", "'語'"]


class Gen:
    """Typed random walk over LambdaSyntax's grammar. Each g_<type>
    returns Python source for an expression of (mostly) that type; a few
    productions are deliberately ill-typed so the TypeError paths show."""

    def __init__(self, rnd):
        self.r = rnd

    def pick(self, xs):
        return self.r.choice(xs)

    def small_int(self):
        return str(self.r.randint(-5, 8))

    def g(self, ty, d):
        return getattr(self, "g_" + ty)(d)

    def g_any(self, d):
        return self.g(self.pick(["str", "int", "float", "bool"]), d)

    def g_str(self, d):
        if d <= 0 or self.r.random() < 0.25:
            return self.pick([S, S, T] + STR_LITS)
        x = lambda: self.g_str(d - 1)
        k = self.r.randint(0, 22)
        if k == 0:
            return f"{x()}.{self.pick(['upper', 'lower', 'strip', 'lstrip', 'rstrip', 'title', 'capitalize'])}()"
        if k == 1:
            return f"{x()}.replace({self.pick(STR_LITS)}, {self.pick(STR_LITS)})"
        if k == 2:
            return f"{x()}.{self.pick(['strip', 'lstrip', 'rstrip'])}({self.pick(['$', 'x', ' ', 'a'])!r})"
        if k == 3:
            return f"{x()}.{self.pick(['zfill', 'ljust', 'rjust'])}({self.r.randint(0, 8)})"
        if k in (4, 5, 6):
            return f"{x()}[{self.bound(d)}:{self.bound(d)}]"
        if k == 7:
            return f"{x()}[{self.small_int()}]"
        if k == 8:
            return f"{x()} + {x()}"
        if k == 9:
            return f"{x()} * {self.pick(['2', '0', '-1', I, '3'])}"
        if k in (10, 11):
            return f"str({self.g_any(d - 1)})"
        if k == 12:
            return f"({x()} if {self.g_bool(d - 1)} else {x()})"
        if k == 13:
            return f"({x()} {self.pick(['or', 'and'])} {x()})"
        if k == 14:
            return f"{self.pick(SEPS[:4])}.join({self.g_list(d - 1)})"
        if k == 15:
            return f"{self.g_list(d - 1)}[{self.small_int()}]"
        if k == 16:
            return f"{self.pick(['min', 'max'])}({x()}, {x()})"
        if k == 17:  # ill-typed: str + number is a TypeError in Python
            return f"{x()} + {self.g_num(d - 1)}"
        if k == 18:
            return f"({x()} if {self.g_bool(d - 1)} else {self.g_num(d - 1)})"
        if k == 19:
            return f"({self.g_any(d - 1)} or {self.g_any(d - 1)})"
        if k == 20:
            return f"str({x()}[{self.bound(d)}:])"
        if k == 21:
            return f"{x()}[:{self.bound(d)}]"
        return f"{x()}.replace({x()}, {x()})"

    def bound(self, d):
        k = self.r.randint(0, 6)
        if k == 0:
            return ""
        if k <= 3:
            return self.small_int()
        if k == 4:
            return self.pick([I, N, "-" + I])
        if k == 5:
            return f"len({self.pick([S, T])}) - {self.r.randint(1, 4)}"
        return f"{self.g_int(min(d - 1, 1))}"

    def g_list(self, d):
        k = self.r.randint(0, 3)
        x = self.g_str(d - 1)
        if k == 0:
            return f"{x}.split()"
        if k == 1:
            return f"{x}.split({self.pick(SEPS)})"
        items = [self.g_str(d - 1) for _ in range(self.r.randint(1, 3))]
        return "[" + ", ".join(items) + "]"

    def g_num(self, d):
        return self.g_int(d) if self.r.random() < 0.5 else self.g_float(d)

    def g_int(self, d):
        if d <= 0 or self.r.random() < 0.25:
            return self.pick([I, N, N, self.small_int()])
        x = lambda: self.g_int(d - 1)
        k = self.r.randint(0, 16)
        if k == 0:
            return f"len({self.g_str(d - 1)})"
        if k == 1:
            return f"len({self.g_list(d - 1)})"
        if k == 2:
            return f"int({self.g_float(d - 1)})"
        if k in (3, 4):
            return f"{x()} {self.pick(['+', '-', '*'])} {x()}"
        if k == 5:
            return f"{x()} {self.pick(['//', '%'])} {self.pick([x(), '3', '-4', '2'])}"
        if k == 6:
            return f"-{x()}"
        if k == 7:
            return f"abs({x()})"
        if k == 8:
            return f"round({self.g_float(d - 1)})"
        if k == 9:
            return f"{self.g_str(d - 1)}.{self.pick(['find', 'count'])}({self.pick(STR_LITS[1:])})"
        if k == 10:
            return f"({x()} if {self.g_bool(d - 1)} else {x()})"
        if k == 11:
            return f"{self.pick(['min', 'max'])}({x()}, {x()})"
        if k == 12:
            return f"({x()} {self.pick(['or', 'and'])} {x()})"
        if k == 13:
            return f"int({self.pick([S, T, B])})"
        if k == 14:
            return f"round({x()}, {self.r.randint(-2, 2)})"
        if k == 15:
            return f"{self.pick(['min', 'max'])}([{x()}, {x()}, {x()}])"
        return f"({x()} if {self.g_bool(d - 1)} else {self.g_float(d - 1)})"

    def g_float(self, d):
        if d <= 0 or self.r.random() < 0.25:
            return self.pick([D, D, "0.5", "-0.0", "1e16", "1e-07", "2.675", "3.0", "0.1"])
        x = lambda: self.g_float(d - 1)
        k = self.r.randint(0, 12)
        if k == 0:
            return f"float({self.g_int(d - 1)})"
        if k == 1:
            return f"{self.g_int(d - 1)} / {self.pick([self.g_int(d - 1), '2', '-4'])}"
        if k in (2, 3):
            return f"{x()} {self.pick(['+', '-', '*'])} {self.g_num(d - 1)}"
        if k == 4:
            return f"{x()} {self.pick(['//', '%', '/'])} {self.pick([x(), '2', '0.5', '-3'])}"
        if k == 5:
            return f"-{x()}"
        if k == 6:
            return f"abs({x()})"
        if k == 7:
            return f"round({x()}, {self.r.randint(-1, 3)})"
        if k == 8:
            return f"({x()} if {self.g_bool(d - 1)} else {x()})"
        if k == 9:
            return f"{self.pick(['min', 'max'])}({x()}, {self.g_num(d - 1)})"
        if k == 10:
            return f"float({self.pick([S, T])})"
        if k == 11:
            return f"({x()} or {x()})"
        return f"float({self.g_float(d - 1)})"

    def g_bool(self, d):
        if d <= 0 or self.r.random() < 0.2:
            return self.pick([B, B, "True", "False"])
        k = self.r.randint(0, 16)
        op = lambda: self.pick(["==", "!=", "<", ">", "<=", ">="])
        if k in (0, 1):
            return f"{self.g_int(d - 1)} {op()} {self.g_num(d - 1)}"
        if k == 2:
            return f"{self.g_float(d - 1)} {op()} {self.g_float(d - 1)}"
        if k == 3:
            return f"{self.g_str(d - 1)} {op()} {self.g_str(d - 1)}"
        if k == 4:
            return f"{self.g_int(d - 1)} {op()} {self.g_int(d - 1)} {op()} {self.g_int(d - 1)}"
        if k in (5, 6):
            return f"not {self.g_any(d - 1)}"
        if k == 7:
            return f"bool({self.g_any(d - 1)})"
        if k == 8:
            return f"{self.g_bool(d - 1)} {self.pick(['and', 'or'])} {self.g_bool(d - 1)}"
        if k == 9:
            return f"{self.g_str(d - 1)} {self.pick(['in', 'not in'])} {self.g_str(d - 1)}"
        if k == 10:  # items of other types and columns too: `in` is ==
            pool = STR_LITS + [S, T, "None", "42", "True"]
            items = ", ".join(self.pick(pool) for _ in range(self.r.randint(1, 3)))
            return f"{self.g_str(d - 1)} {self.pick(['in', 'not in'])} [{items}]"
        if k == 11:
            item = lambda: self.pick([self.small_int(), self.small_int(), N, I, B, "'1'", "None", "3.0"])
            items = ", ".join(item() for _ in range(self.r.randint(1, 3)))
            x = self.pick([self.g_int(d - 1), self.g_int(d - 1), B])
            return f"{x} {self.pick(['in', 'not in'])} [{items}]"
        if k == 12:
            return f"{self.g_any(d - 1)} is {self.pick(['None', 'not None'])}"
        if k == 13:
            return f"{self.g_str(d - 1)}.{self.pick(['startswith', 'endswith'])}({self.pick(STR_LITS)})"
        if k == 14:
            return f"{self.g_str(d - 1)}.{self.pick(['isdigit', 'isalpha'])}()"
        if k == 15:  # ill-typed: ordering a str against a number
            return f"{self.g_str(d - 1)} {self.pick(['<', '>='])} {self.g_int(d - 1)}"
        return f"{self.g_any(d - 1)} {self.pick(['==', '!='])} {self.g_any(d - 1)}"


def outcome(fn, row):
    try:
        v = fn(dict(zip([c for c, _ in SCHEMA], row)))
    except Exception as e:  # every exception is an outcome to record
        msg = str(e)  # "... 'NoneType' ..." or "... must be str, not None"
        return {"err": type(e).__name__, "none": "NoneType" in msg or msg.endswith("not None")}
    if isinstance(v, str) or v is None:
        return {"v": v}
    return {"v": v, "str": str(v)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=DEFAULT_OUT)
    a = ap.parse_args()
    rnd = random.Random(SEED)
    gen = Gen(rnd)
    env = {"__builtins__": BUILTINS}
    warnings.simplefilter("ignore", SyntaxWarning)  # e.g. 1e16[1:] parses, then raises
    seen, cases = set(), []
    kinds = ["str", "int", "float", "bool", "any"]
    while len(cases) < CASES:
        src = "lambda r: " + gen.g(kinds[len(cases) % len(kinds)], rnd.randint(1, 3))
        if src in seen:
            continue
        seen.add(src)
        try:
            fn = eval(src, env, {})
        except SyntaxError:  # e.g. `s * -1.replace(..)`: not a lambda at all
            continue
        cases.append({"id": len(cases), "fn": src, "py": [outcome(fn, row) for row in ROWS]})
    doc = {"seed": SEED, "schema": SCHEMA, "rows": ROWS, "cases": cases}
    dump = lambda x: json.dumps(x, ensure_ascii=False, separators=(",", ":"))
    with open(a.out, "w", encoding="utf-8") as f:  # one case per line
        f.write("{" + ",\n".join(f"{dump(k)}:{dump(v)}" for k, v in doc.items() if k != "cases"))
        f.write(',\n"cases":[\n' + ",\n".join(dump(c) for c in cases) + "\n]}\n")
    errs = sum(1 for c in cases if any("err" in o for o in c["py"]))
    print(f"[oracle] seed {SEED}: {len(cases)} lambdas x {len(ROWS)} rows "
          f"({errs} raise on some row) -> {os.path.relpath(a.out, ROOT)}")


if __name__ == "__main__":
    main()
