from .quadstore import QuadStore, Snapshot, quad_frame

__all__ = ["QuadStore", "Snapshot", "quad_frame"]
