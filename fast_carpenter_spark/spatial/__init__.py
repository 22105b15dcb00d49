from .pip import points_in_polygon  # noqa: F401
from .join import SpatialJoinStage, spatial_join  # noqa: F401
from .raster import raster_vector_join  # noqa: F401
