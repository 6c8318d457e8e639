from .quadstore import QuadStore, quad_frame

__all__ = ["QuadStore", "quad_frame"]
