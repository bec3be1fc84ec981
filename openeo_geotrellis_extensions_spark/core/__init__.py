from .grid import Extent, LayoutDefinition, GlobalGrid, WORLD_EXTENT
from .celltype import CellType, cell_type_union

__all__ = [
    "Extent",
    "LayoutDefinition",
    "GlobalGrid",
    "WORLD_EXTENT",
    "CellType",
    "cell_type_union",
]
