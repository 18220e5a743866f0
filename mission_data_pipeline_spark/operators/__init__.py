from mission_data_pipeline_spark.operators.decom import ParameterDefinition, decommutate
from mission_data_pipeline_spark.operators.calibration import Calibration, apply_calibrations
from mission_data_pipeline_spark.operators.filters import apid_filter
from mission_data_pipeline_spark.operators.dataset import to_wide
from mission_data_pipeline_spark.operators.analytics import (
    funnel_depths,
    retention_cohorts,
)
from mission_data_pipeline_spark.operators.graph import pagerank
from mission_data_pipeline_spark.operators.quality import (
    Constraint,
    profile_columns,
    validate_constraints,
)

__all__ = [
    "Constraint",
    "pagerank",
    "funnel_depths",
    "profile_columns",
    "retention_cohorts",
    "validate_constraints",
    "ParameterDefinition",
    "decommutate",
    "Calibration",
    "apply_calibrations",
    "apid_filter",
    "to_wide",
]
