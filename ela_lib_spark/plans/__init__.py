from ela_lib_spark.plans.dsl import dsl_filter  # noqa: F401
from ela_lib_spark.plans.explain import explain_str  # noqa: F401
