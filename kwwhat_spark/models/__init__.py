from kwwhat_spark.models.base import MODELS, Pipeline, model  # noqa: F401

# Model modules self-register on import. Resolution is lazy
# (Pipeline.ref()), but registration order is the incremental batch
# order (kwwhat_spark/plans/incremental.py INCREMENTAL_ORDER): keep each
# incremental model after every incremental model it reads
# (tests/test_model_config.py checks it).
from kwwhat_spark.models import staging  # noqa: E402,F401
from kwwhat_spark.models import hardware  # noqa: E402,F401
from kwwhat_spark.models import status  # noqa: E402,F401
from kwwhat_spark.models import transactions  # noqa: E402,F401
from kwwhat_spark.models import preparing  # noqa: E402,F401
from kwwhat_spark.models import attempts  # noqa: E402,F401
from kwwhat_spark.models import visits  # noqa: E402,F401
from kwwhat_spark.models import outages  # noqa: E402,F401
from kwwhat_spark.models import meter_values  # noqa: E402,F401
from kwwhat_spark.models import marts  # noqa: E402,F401
