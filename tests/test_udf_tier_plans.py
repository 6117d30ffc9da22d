"""UDF-tier gate queries end at their Python stage: no exchange and no
sort sits above it.

The gate hashes rows unordered, and each of these queries' rows carries
its own key (``name``; (t, P_bar); (kind, P_bar, x_fluid); (id_a,
id_b)), so a final ``orderBy`` would buy nothing. It would cost a range
exchange whose boundary-sampling job re-runs the Python stage below it,
as nothing materializes between the two. Plans only: no query runs.
"""

import pytest

from magmapandas_spark.relational import suite

from .conftest import sf_dir

SF = sf_dir()
QUERIES = (
    "volatile_saturation_im", "allison_saturation", "fe3fe2_deng2020",
    "kd_toplis_iteration", "fe3fe2_errors", "kd_blundy_saper",
    "fe3fe2_solvers2", "qfm_exact", "iw_exact", "isobar_grid",
    "embedding_neardup",
)


def _above_python(root) -> list[list[str]]:
    """For each Python-evaluating node of a physical plan, the names of
    the nodes between it and the root."""
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    found, todo = [], [(root, [])]
    while todo:
        node, above = todo.pop()
        name = node.nodeName()
        if "Python" in name or "InPandas" in name:
            found.append(above)
        kids = node.children()
        todo.extend((kids.apply(i), above + [name])
                    for i in range(kids.size()))
    return found


@pytest.mark.parametrize("name", QUERIES)
def test_no_exchange_or_sort_above_python_stage(spark, name):
    query = suite.queries()[name](spark, SF)
    found = _above_python(query._jdf.queryExecution().executedPlan())
    assert found, name
    for above in found:
        assert not {"Exchange", "Sort"} & set(above), (name, above)
