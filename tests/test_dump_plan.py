"""scripts/dump_plan.py: the plan normalizer behind the fingerprints
(no Spark session needed)."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "dump_plan.py")


def _load():
    spec = importlib.util.spec_from_file_location("dump_plan", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalize_strips_expression_ids_and_plan_ids():
    dp = _load()
    a = "Project [vec_id#12L, v#13]\n+- Filter (vec_id#12L < 10), plan_id=4\n"
    b = "Project [vec_id#907L, v#908]\n+- Filter (vec_id#907L < 10), plan_id=31\n"
    assert dp.normalize(a) == "Project [vec_id, v]\n+- Filter (vec_id < 10), \n"
    assert dp.fingerprint(a) == dp.fingerprint(b)
    assert len(dp.fingerprint(a)) == 12


def test_normalize_renumbers_lambda_variables_by_first_appearance():
    dp = _load()
    plan = "Aggregate [sum(10L) AS s#5L], lambda x_41#7 * lambda y_42#8 + lambda x_41#7, 0.5D"
    assert dp.normalize(plan) == "Aggregate [sum(10L) AS s], lambda x_0 * lambda y_1 + lambda x_0, 0.5D"
    # the same plan built later in a session: same fingerprint
    assert dp.fingerprint(plan) == dp.fingerprint(plan.replace("_41", "_907").replace("_42", "_908"))
    # a different binding (y where x was) is a different plan
    assert dp.fingerprint(plan) != dp.fingerprint(plan.replace("+ lambda x_41", "+ lambda y_42"))
    # column names that merely look like lambda variables stay as they are
    assert dp.normalize("Project [x_3, t_1]") == "Project [x_3, t_1]"
