from .columns import decode_image_stub, extract_image_features

__all__ = ["decode_image_stub", "extract_image_features"]
