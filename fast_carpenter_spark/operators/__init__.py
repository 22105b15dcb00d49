from .define import DefineStage, reduction_sql  # noqa: F401
from .selection import CutFlowStage, SelectPhaseSpaceStage  # noqa: F401
from .binned import BinnedDataframeStage  # noqa: F401
from .systematics import SystematicWeightsStage  # noqa: F401
from .skim import EventByEventDataframeStage  # noqa: F401
