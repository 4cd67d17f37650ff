"""Physical-plan utilities: inspection and skew handling."""

from dudb_spark.plans.inspect import assert_in_plan, plan_of  # noqa: F401
from dudb_spark.plans.layout import salted_group_sum  # noqa: F401
