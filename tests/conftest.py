import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ocrspark.session import get_spark  # noqa: E402

FIXTURES = Path(__file__).parent / "fixtures"


def plan_node_names(jplan) -> list[str]:
    """``nodeName()`` of every node of a JVM physical plan, walking into
    adaptive plans (``AdaptiveSparkPlanExec.executedPlan()``), query
    stages and inner children (subquery plans, the cached plan under an
    ``InMemoryTableScan``): every node the rendered plan text shows, so
    plan-shape checks count tree nodes, not text."""
    names, stack = [], [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            names.append(node.nodeName())
            for kids in (node.children(), node.innerChildren()):
                stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


@pytest.fixture(scope="session")
def plan_nodes():
    """df -> node names of its executed physical plan."""
    return lambda df: plan_node_names(df._jdf.queryExecution().executedPlan())


@pytest.fixture(scope="session")
def plan_text():
    """df -> its rendered executed plan, for expression-level facts only
    (aggregate functions, partitioning arguments, join types); node types
    are checked with the ``plan_nodes`` walker."""
    return lambda df: df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("OCRSPARK_MASTER", "local[4]")
    s = get_spark(app="ocrspark-tests", master=os.environ["OCRSPARK_MASTER"],
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden():
    return json.load(open(FIXTURES / "golden_ifyx1000.json", encoding="utf-8"))


@pytest.fixture(scope="session")
def golden_spans(golden):
    return [(c["kind"], c["text"], c["media_ref"], c["offset"])
            for c in golden["containers"]]


@pytest.fixture(scope="session")
def golden_docs_df(spark, golden, golden_spans):
    from ocrspark.schema import DOCS_SCHEMA
    return spark.createDataFrame(
        [{"doc_id": golden["doc_id"],
          "spans": [{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in golden_spans]}],
        schema=DOCS_SCHEMA,
    )
