from . import descriptive, inference, regression

__all__ = ["descriptive", "inference", "regression"]
