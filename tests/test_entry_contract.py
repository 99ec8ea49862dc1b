"""Driver-contract sanity: entry/queries/oracle_sql shape invariants."""

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# sha256 over the queries() names in order plus every oracle_sql() key and
# text.  A refactor must leave it unchanged; a change that deliberately
# re-oracles a query updates it and says so.
CONTRACT_SHA256 = "7946731550affffdd948660d921d9fecd4954aec8596ab773311bc0b43b5445e"


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.columns == ["doc_id", "subject", "exam_version", "task_number", "points"]
    assert df.count() > 0


def test_queries_oracle_alignment():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    # every query is oracle-backed (the media decode went payload-fed +
    # oracled in round 3; real_decode stays the documented codec seam)
    assert set(q) - set(o) == set()
    assert len(q) >= 20


def test_driver_contract_hash():
    h = hashlib.sha256()
    for name in E.queries():
        h.update(name.encode() + b"\0")
    h.update(b"\1")
    oracle = E.oracle_sql()
    for key in sorted(oracle):
        # the SQL embeds the absolute fixture path; hash it checkout-free
        sql = oracle[key].replace(str(E.REPO), "<REPO>")
        h.update(key.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == CONTRACT_SHA256


def test_every_query_runs_small(spark):
    for name, fn in E.queries().items():
        df = fn(spark, SF_DIR)
        assert df.limit(1).count() >= 0, name


# Settable options: public parameters with a default (functions whose name
# does not start with "_", in ocrspark/, __spark_entry__.py and bench.py)
# plus the distinct environment variables those files read.  Every option
# needs a non-test caller, a deployment/lineage role or a named reference
# feature; a change that adds or removes one updates these numbers.
OPTION_PARAMS = 45
OPTION_ENV_VARS = 9


def settable_options(root: Path) -> tuple[int, int]:
    import ast
    import re

    params, env = 0, set()
    for p in [*root.glob("ocrspark/**/*.py"), root / "__spark_entry__.py",
              root / "bench.py"]:
        src = p.read_text()
        params += sum(
            len(f.args.defaults) + sum(d is not None for d in f.args.kw_defaults)
            for f in ast.walk(ast.parse(src))
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not f.name.startswith("_"))
        env |= set(re.findall(
            r"""(?:environ\.get\(|getenv\(|environ\[)\s*["']([A-Z0-9_]+)""", src))
    return params, len(env)


def test_settable_option_budget():
    root = Path(__file__).resolve().parents[1]
    assert settable_options(root) == (OPTION_PARAMS, OPTION_ENV_VARS)


# A value that a Spark op and its DuckDB twin share has one home, a named
# constant both engines read: the private SQL builders take no defaulted
# numeric parameter (a default would re-type the op's constant).  Allowed
# defaults are bools, None and non-numeric strings (relation / column names).
def builder_numeric_defaults(path: Path) -> list[str]:
    import ast

    def allowed(d) -> bool:
        if not isinstance(d, ast.Constant):
            return False  # a name or attribute: a constant read at def time
        v = d.value
        if v is None or isinstance(v, bool):
            return True
        if isinstance(v, str):
            try:
                float(v)
            except ValueError:
                return True
        return False

    found = []
    for f in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(f, ast.FunctionDef) and f.name.startswith("_")):
            continue
        pos = f.args.posonlyargs + f.args.args
        pairs = [*zip(pos[len(pos) - len(f.args.defaults):], f.args.defaults),
                 *((a, d) for a, d in zip(f.args.kwonlyargs, f.args.kw_defaults)
                   if d is not None)]
        found += [f"{f.name}({a.arg}={ast.unparse(d)})"
                  for a, d in pairs if not allowed(d)]
    return found


def test_sql_builders_have_no_numeric_defaults():
    entry = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    assert builder_numeric_defaults(entry) == []


def test_twin_sql_follows_the_op_constants(monkeypatch):
    from ocrspark.ops import similarity

    monkeypatch.setattr(similarity, "TOP_K", 7)
    monkeypatch.setattr(similarity, "QUERY_MOD", 31)
    for sql in (E._sql_cosine_topk(), E._sql_ivf_topk()):
        assert "rank <= 7" in sql and "rank <= 10" not in sql
        assert "vec_id % 31 = 0" in sql and "% 25" not in sql
