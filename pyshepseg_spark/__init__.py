"""pyshepseg_spark — PySpark-native tiled image segmentation +
spatial-join analytics engine (from-scratch rebuild of
ubarsc/pyshepseg's capabilities; see SURVEY.md)."""

from .session import get_spark, warm_python_workers  # noqa: F401
from .session import lazy_worker_zipimport as _lazy_worker_zipimport

_lazy_worker_zipimport()

__version__ = "0.1.0"
